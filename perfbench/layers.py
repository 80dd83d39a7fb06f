"""Per-layer metrics of a traced run.

Sources, in order of preference: spans of the traced window (the same
operations the timed run makes), the public `build_index(timings=)` phase
walls, and counting probes that run only in traced runs, after the window:
a tokenize-only pass, posting blocks scanned per search, on-disk sizes and
`index_report`, a cold-then-warm search on a fresh `load_index`, and
`plan_summary` of the workload's query plan. A metric of a layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pyspark.sql.functions as F

from perfbench.harness import dir_bytes, median

# (name, unit); BENCHMARK.json's per_layer list is exactly this list
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("analysis.tokenize_s", "s"),
    ("analysis.tokens", "count"),
    ("index.build.stats_phase_s", "s"),
    ("index.build.docmap_write_s", "s"),
    ("index.build.postings_write_s", "s"),
    ("index.build.manifest_commit_s", "s"),
    ("index.build.spark_jobs", "count"),
    ("index.build.spark_tasks", "count"),
    ("index.storage.postings_bytes", "bytes"),
    ("index.storage.docmap_bytes", "bytes"),
    ("index.storage.dictionary_bytes", "bytes"),
    ("index.storage.files", "count"),
    ("functions.codec.bytes_per_posting", "bytes"),
    ("index.load.load_index_ms", "ms"),
    ("index.load.first_search_extra_jobs", "count"),
    ("query.query_terms_ms", "ms"),
    ("query.search_terms_ms", "ms"),
    ("query.matched_terms", "count"),
    ("query.posting_blocks_scanned", "count"),
    ("query.hits", "count"),
    ("query.spark_jobs_per_call", "count"),
    ("query.spark_stages_per_call", "count"),
    ("query.spark_tasks_per_call", "count"),
    ("plans.exchanges", "count"),
    ("plans.broadcasts", "count"),
    ("plans.python_evals", "count"),
    ("index.deletes.upsert_s", "s"),
    ("index.deletes.spark_jobs_per_upsert", "count"),
    ("index.deletes.tombstones", "count"),
    ("index.segments", "count"),
    ("index.compact.compact_s", "s"),
    ("index.compact.merges", "count"),
    ("index.compact.bytes_rewritten", "bytes"),
    ("spark.tasks_failed", "count"),
    ("trace.overhead_ms_per_op", "ms"),
    ("trace.spans", "count"),
    ("selftime.bench_s_per_op", "s"),
    ("selftime.index.build_s_per_op", "s"),
    ("selftime.index.load_s_per_op", "s"),
    ("selftime.query.bm25_search_s_per_op", "s"),
    ("selftime.index.deletes_s_per_op", "s"),
    ("selftime.index.compact_s_per_op", "s"),
]
_SELF_LAYERS = ["bench", "index.build", "index.load", "query.bm25_search", "index.deletes", "index.compact"]
_BUILD_PHASES = ["stats_phase", "docmap_write", "postings_write", "manifest_commit"]


@contextmanager
def inner_spans(tracer):
    """Span the public functions the engine calls inside the benchmark's
    calls (upsert_docs -> delete_docs + build_index; compact_auto ->
    compact_index), by wrapping the module attributes they are looked up
    through. compact_index spans record the bytes each merge wrote (its new
    shard's docmap and postings, measured before a later merge can retire
    it). Restored on exit."""
    import openmatch_spark.index.build as build_mod
    import openmatch_spark.index.compact as compact_mod
    import openmatch_spark.index.deletes as deletes_mod

    originals = {
        (build_mod, "build_index"): build_mod.build_index,
        (deletes_mod, "delete_docs"): deletes_mod.delete_docs,
        (compact_mod, "compact_index"): compact_mod.compact_index,
    }

    def build_index(*a, **kw):
        timings = kw.get("timings")
        if timings is None:
            timings = kw["timings"] = {}
        with tracer.span("index.build", "build_index") as sp:
            out = originals[(build_mod, "build_index")](*a, **kw)
        if sp is not None:
            sp["timings"] = dict(timings)
        return out

    def delete_docs(*a, **kw):
        with tracer.span("index.deletes", "delete_docs"):
            return originals[(deletes_mod, "delete_docs")](*a, **kw)

    def compact_index(spark, index_dir, *a, **kw):
        with tracer.span("index.compact", "compact_index") as sp:
            out = originals[(compact_mod, "compact_index")](spark, index_dir, *a, **kw)
        if sp is None:
            return out
        shard = f"shard={out['new_shard']}"
        sp["bytes"] = sum(
            dir_bytes(os.path.join(index_dir, table, shard))[0]
            for table in ("docmap", "postings")
        )
        return out

    build_mod.build_index = build_index
    deletes_mod.delete_docs = delete_docs
    compact_mod.compact_index = compact_index
    try:
        yield
    finally:
        for (mod, name), fn in originals.items():
            setattr(mod, name, fn)


def _dur(s) -> float:
    return s["end"] - s["start"]


def _med(xs, scale: float = 1.0) -> float:
    return median(xs) * scale if xs else 0.0


def window_metrics(tracer, window: list[dict], n_ops: int) -> dict:
    """Per-layer values derived from the traced window's spans."""
    def named(layer, name):
        return [s for s in window if s["layer"] == layer and s["name"] == name]

    kids = tracer.children()

    def inclusive(s, key):
        return s[key] + sum(inclusive(c, key) for c in kids.get(s["id"], ()))

    m: dict = {}
    builds = named("index.build", "build_index")
    for ph in _BUILD_PHASES:
        m[f"index.build.{ph}_s"] = _med([b["timings"].get(ph, 0.0) for b in builds])
    m["index.build.spark_jobs"] = _med([b["jobs"] for b in builds])
    m["index.build.spark_tasks"] = _med([b["tasks"] for b in builds])

    qt = named("query.bm25_search", "query_terms")
    st = named("query.bm25_search", "search_terms")
    m["query.query_terms_ms"] = _med([_dur(s) for s in qt], 1000)
    m["query.search_terms_ms"] = _med([_dur(s) for s in st], 1000)
    m["query.matched_terms"] = _med([s["matched_terms"] for s in st])
    m["query.posting_blocks_scanned"] = _med([s["blocks"] for s in st])
    m["query.hits"] = _med([s["hits"] for s in st])
    # one call = query_terms + search_terms (+ the collect) of one request
    for key, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks")):
        per_call = [a[key] + b[key] for a, b in zip(qt, st)]
        m[f"query.spark_{name}_per_call"] = _med(per_call)

    ups = named("index.deletes", "upsert_docs")
    m["index.deletes.upsert_s"] = _med([_dur(s) for s in ups])
    m["index.deletes.spark_jobs_per_upsert"] = _med([inclusive(s, "jobs") for s in ups])
    # the index the fresh reads meet: segments and live tombstones after
    # each write (before its compaction)
    state = named("probe", "segments")
    if state:
        m["index.segments"] = _med([s["segments"] for s in state])
        m["index.deletes.tombstones"] = _med([s["tombstones"] for s in state])
    comp = named("index.compact", "compact_auto")
    merges = named("index.compact", "compact_index")
    m["index.compact.compact_s"] = sum(_dur(s) for s in comp)
    m["index.compact.merges"] = len(merges)
    m["index.compact.bytes_rewritten"] = sum(s["bytes"] for s in merges)

    selft = tracer.self_times(window)
    for layer in _SELF_LAYERS:
        m[f"selftime.{layer}_s_per_op"] = selft.get(layer, {}).get("self_s", 0.0) / max(n_ops, 1)
    return m


def probe_metrics(r, w) -> dict:
    """Counting probes on the workload's corpus and index (traced runs
    only, after the window)."""
    from openmatch_spark.analysis import extract_corpus
    from openmatch_spark.index import index_report, load_index
    from openmatch_spark.plans.explain import plan_summary
    from openmatch_spark.query.bm25_search import query_terms, search_terms

    from perfbench.workloads import QUERY_SCHEMA, _PROBE, _timed_search, gen_queries

    tr, spark, m = r.tracer, r.spark, {}
    with tr.span("analysis", "tokenize"):
        t0 = time.perf_counter()
        m["analysis.tokens"] = extract_corpus(w.pages).agg(F.sum("doclen")).collect()[0][0]
        m["analysis.tokenize_s"] = time.perf_counter() - t0

    for table in ("postings", "docmap", "dictionary"):
        m[f"index.storage.{table}_bytes"] = dir_bytes(os.path.join(w.index_dir, table))[0]
    m["index.storage.files"] = dir_bytes(w.index_dir)[1]

    with tr.span("index.load", "load_index"):
        idx = load_index(spark, w.index_dir)
    load_ms = [_dur(s) * 1000 for s in tr.spans if s["layer"] == "index.load" and s["name"] == "load_index"]
    m["index.load.load_index_ms"] = median(load_ms)
    qs = gen_queries(16, [r.seed, _PROBE])
    jobs = []
    for _ in range(2):  # cold, then warm, on the fresh handle
        first = len(tr.spans)
        _timed_search(r, idx, qs, 10, True)
        jobs.append(sum(s["jobs"] for s in tr.spans[first:] if s["layer"] == "query.bm25_search"))
    m["index.load.first_search_extra_jobs"] = jobs[0] - jobs[1]

    with tr.span("index.storage", "index_report"):
        rep = index_report(idx)
    m["functions.codec.bytes_per_posting"] = rep["payload_bytes"] / max(rep["n_postings"], 1)
    m["index.segments"] = rep["n_segments"]
    m["index.deletes.tombstones"] = idx.deletes.count() if idx.has_deletes() else 0

    shape = w.plan_shape()
    if shape is not None:
        rows, k = shape
        with tr.span("plans.explain", "plan_summary"):
            matched = query_terms(idx, spark.createDataFrame(rows, QUERY_SCHEMA))
            plan = plan_summary(search_terms(idx, matched, k=k))
        for key in ("exchanges", "broadcasts", "python_evals"):
            m[f"plans.{key}"] = plan[key]
    return m
