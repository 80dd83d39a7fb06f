"""The benchmark's workloads, driven through the public API only.

Each workload sets up its state (untimed except as `setup_s`), runs one kind
of operation back to back for the measured window, then checks its outputs
against the oracle outside the window. Every workload reports the same
end-to-end metrics, each defined on that workload's own operation:

  items_per_s          items written or served per second (median over
                       operations): docs per second of build_index for
                       bulk_build and of upsert_docs for ingest_serve,
                       queries per second for batch_retrieval and
                       interactive
  read_p50_ms          median read wall: a fresh read (load_index plus a
                       query batch on the index just written) after each
                       build or upsert; one batch for batch_retrieval, one
                       query for interactive
  index_bytes_per_doc  on-disk bytes of the workload's index per document
  ops_ok_frac          operations that ran and passed the gate / attempted

Inputs: the JVM-side corpus generator `fixtures.synth_pages_spark` (Zipf-like
vocabulary, Common-Crawl-style columns) and a log-uniform term-rank query
generator (the law bench.py uses), both seeded from --seed.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pyspark.sql.functions as F

from openmatch_spark.fixtures import PAGES_SCHEMA, synth_pages_spark
from openmatch_spark.functions.localrel import in_list
from openmatch_spark.index import (
    build_index, compact_auto, load_index, upsert_docs,
)
from openmatch_spark.query.bm25_search import query_terms, search_terms

from perfbench import gate
from perfbench.harness import cores, median, percentile, top_percentile_with_tail

# the layout BASELINE's indexing-throughput metric is defined on
NUM_SHARDS, TERM_BUCKETS, BLOCK_SIZE = 8, 16, 128
VOCAB = 30000
QUERY_SCHEMA = "query_id string, text string"

# full: the recorded benchmark; tiny: the self-test (seconds, not minutes)
SCALES = {
    "full": {
        "build_docs": 4000, "serve_docs": 4000,
        "batch_queries": 1024, "batch_k": 100, "gate_per_batch": 16,
        "read_queries": 32, "single_k": 10,
        "base_docs": 800, "base_shards": 2, "upsert_pages": 64, "reads_per_write": 1,
    },
    "tiny": {
        "build_docs": 300, "serve_docs": 300,
        "batch_queries": 32, "batch_k": 20, "gate_per_batch": 8,
        "read_queries": 8, "single_k": 10,
        "base_docs": 300, "base_shards": 2, "upsert_pages": 16, "reads_per_write": 2,
    },
}

# streams of the seeded input generators, so inputs differ by purpose
_WARM, _MAIN, _OPS, _PROBE = range(4)


def gen_queries(n: int, seed, prefix: str = "q") -> list[tuple[str, str]]:
    """n queries of 1-5 terms, term ranks log-uniform over the vocabulary."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        nt = int(rng.integers(1, 6))
        ranks = np.floor(np.exp(rng.random(nt) * np.log(VOCAB))).astype(int)
        out.append((f"{prefix}{i}", " ".join(f"term{r:06d}" for r in ranks)))
    return out


def corpus(spark, n: int, seed: int, stream: int):
    return synth_pages_spark(
        spark, n, vocab=VOCAB, seed=seed * 16 + stream, partitions=cores()
    )


def build(spark, pages, index_dir: str, timings: dict | None = None) -> dict:
    return build_index(
        spark, pages, index_dir, num_shards=NUM_SHARDS,
        num_term_buckets=TERM_BUCKETS, block_size=BLOCK_SIZE, timings=timings,
    )


class Run:
    """State shared by a workload's phases: session, tracer, inputs and the
    measurements taken so far."""

    def __init__(self, spark, tracer, work_dir: str, seed: int, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.sz = SCALES[scale]
        self.attempted = 0
        self.failed_ops: set = set()
        self.walls: list[float] = []  # per successful timed op, seconds
        self.bookkeeping: list[float] = []  # tracer time per traced op, s
        self.lines: list[str] = []  # human-readable report lines

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op(self, key, fn):
        """Run one timed operation; fn returns its own wall in seconds (so
        trace-only probes it runs afterwards stay out of the timing). A
        raising op is counted failed and reported on stderr."""
        self.attempted += 1
        self.tracer.request = str(key)
        b0 = self.tracer.bookkeeping_s
        try:
            with self.tracer.span("bench", "op"):
                wall = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed_ops.add(key)
            return None
        finally:
            self.tracer.request = None
        self.walls.append(wall)
        if self.tracer.enabled:
            self.bookkeeping.append(self.tracer.bookkeeping_s - b0)
        return wall

    def fail(self, key) -> None:
        self.failed_ops.add(key)

    def say(self, name: str, value, unit: str, note: str = "") -> None:
        self.lines.append(f"{name:<24} {value:>14.4f} {unit:<10} {note}".rstrip())


def _timed_search(r: Run, idx, rows, k: int, as_pandas: bool):
    """createDataFrame -> query_terms -> search_terms -> collect, the
    client-visible query path. Returns (wall_s, result rows, matched)."""
    t0 = time.perf_counter()
    qdf = r.spark.createDataFrame(rows, QUERY_SCHEMA)
    with r.tracer.span("query.bm25_search", "query_terms"):
        matched = query_terms(idx, qdf)
    with r.tracer.span("query.bm25_search", "search_terms") as sp:
        run = search_terms(idx, matched, k=k)
        out = run.toPandas() if as_pandas else run.collect()
    wall = time.perf_counter() - t0
    if sp is not None:
        sp["hits"] = len(out)
        sp["matched_terms"] = len(matched)
        with r.tracer.span("probe", "posting_blocks"):
            sp["blocks"] = _blocks_scanned(idx, matched)
    return wall, out, matched


def _blocks_scanned(idx, matched) -> int:
    """Counting probe (traced runs only): posting blocks the search's
    pruned scan reads — the same bucket + term predicate search_terms
    applies."""
    if not matched:
        return 0
    buckets = sorted({b for (_, _, _, b) in matched})
    terms = sorted({t for (_, t, _, _) in matched})
    return idx.postings.where(in_list("term_bucket", buckets) & in_list("term", terms)).count()


def _rows(out) -> list:
    if hasattr(out, "itertuples"):
        return [tuple(x) for x in out[["query_id", "doc_id", "score", "rank"]].itertuples(index=False)]
    return [(x["query_id"], x["doc_id"], x["score"], x["rank"]) for x in out]


def fresh_read(r: Run, index_dir: str, rows, k: int):
    """A reader's first request after a write: load_index of the index as
    written, then one query batch on the fresh handle. The reload is timed,
    because every reader pays it. Returns (wall_s, result rows)."""
    t0 = time.perf_counter()
    with r.tracer.span("index.load", "load_index"):
        idx = load_index(r.spark, index_dir)
    loaded = time.perf_counter() - t0
    searched, out, _ = _timed_search(r, idx, rows, k, True)
    return loaded + searched, _rows(out)


class Workload:
    name = ""
    pages = None
    index_dir = ""

    def __init__(self, r: Run):
        self.r = r
        self.rates: list[float] = []  # items per second, one per write or query op
        self.reads: list[float] = []  # read walls, seconds

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> float:
        raise NotImplementedError

    def check(self) -> None:
        """Correctness gate; marks failing ops via r.fail(key)."""
        raise NotImplementedError

    def n_docs(self) -> int:
        idx = load_index(self.r.spark, self.index_dir)
        return int(idx.manifest.agg(F.sum("n_docs")).collect()[0][0])

    def report(self) -> None:
        """This workload's own named metrics, printed before the result."""

    def plan_shape(self):
        """(query rows, k) of the workload's query op, for plan_summary;
        None when its window runs no query."""
        return None

    def warm_search(self, idx, n: int, k: int) -> None:
        """One untimed search, so the timed ones meet a warm index handle
        (the first search on a fresh load_index runs extra jobs)."""
        _timed_search(self.r, idx, gen_queries(n, [self.r.seed, _WARM]), k, True)


class BulkBuild(Workload):
    """build_index of a fresh synthetic corpus, 8 shards x 16 term buckets,
    block 128, then a fresh read of the new index. Throughput is the build
    wall's alone; no query code runs inside it."""

    name = "bulk_build"

    def setup(self):
        r, sz = self.r, self.r.sz
        # a full-size build of another corpus pays the cold start (code
        # generation, Python workers, class loading) and most of the JIT
        # warm-up; after a smaller one the timed build's wall varied more
        with r.tracer.span("session", "warmup"):
            t0 = time.perf_counter()
            build(r.spark, corpus(r.spark, sz["build_docs"], r.seed, _WARM), r.path("warm"))
            r.warmup_s = time.perf_counter() - t0
        self.pages = corpus(r.spark, sz["build_docs"], r.seed, _MAIN)
        self.queries = gen_queries(sz["read_queries"], [r.seed, _OPS])
        self.results: dict = {}  # op -> run rows of its fresh read, for the gate

    @property
    def k(self):
        return self.r.sz["batch_k"]

    def op(self, i):
        r = self.r
        d = r.path(f"build-{i}")
        t: dict = {}
        t0 = time.perf_counter()
        with r.tracer.span("index.build", "build_index") as sp:
            stats = build(r.spark, self.pages, d, timings=t)
        built = time.perf_counter() - t0
        if sp is not None:
            sp["timings"] = t
        read, self.results[i] = fresh_read(r, d, self.queries, self.k)
        if int(stats["n_docs"]) != r.sz["build_docs"]:
            r.fail(i)
        self.rates.append(r.sz["build_docs"] / built)
        self.reads.append(read)
        self.index_dir = d  # the last build is the one probed
        return built + read

    def plan_shape(self):
        return self.queries, self.k

    def check(self):
        if not self.results:
            return
        oracle = gate.oracle_for(self.pages)
        qs = dict(self.queries)
        for key, rows in self.results.items():
            if gate.retrieval_mismatches(gate.group_run(rows), oracle, qs, self.k):
                self.r.fail(key)

    def report(self):
        r = self.r
        if self.rates:
            n = len(self.rates)
            r.say("build_docs_per_s", median(self.rates), "docs/s", f"median of {n} builds of {r.sz['build_docs']} docs")
            r.say("fresh_read_p50_ms", median(self.reads) * 1000, "ms", f"load_index + {len(self.queries)} queries at k={self.k} after each build, n={n}")


class _Serving(Workload):
    """Shared set-up of the query workloads: an index prebuilt from the
    seed's corpus, loaded once and warmed with one untimed search."""

    def setup(self):
        r = self.r
        self.pages = corpus(r.spark, r.sz["serve_docs"], r.seed, _MAIN)
        self.index_dir = r.path("serve")
        build(r.spark, self.pages, self.index_dir)
        self.idx = load_index(r.spark, self.index_dir)
        with r.tracer.span("session", "warmup"):
            t0 = time.perf_counter()
            self.warm()
            r.warmup_s = time.perf_counter() - t0
        self.results: dict = {}  # op -> (queries, run rows) kept for the gate

    def n_docs(self):
        return self.r.sz["serve_docs"]

    def check(self):
        r = self.r
        oracle = gate.oracle_for(self.pages)
        for key, (qs, rows) in self.results.items():
            if gate.retrieval_mismatches(gate.group_run(rows), oracle, qs, self.k):
                r.fail(key)


class BatchRetrieval(_Serving):
    """Offline first-stage retrieval: a batch of Zipf queries, k=100."""

    name = "batch_retrieval"

    @property
    def k(self):
        return self.r.sz["batch_k"]

    def warm(self):
        self.warm_search(self.idx, self.r.sz["batch_queries"], self.k)

    def op(self, i):
        r = self.r
        qs = gen_queries(r.sz["batch_queries"], [r.seed, _OPS, i])
        wall, out, _ = _timed_search(r, self.idx, qs, self.k, True)
        sample = dict(qs[: r.sz["gate_per_batch"]])
        rows = [x for x in _rows(out) if x[0] in sample]
        self.results[i] = (sample, rows)
        self.rates.append(len(qs) / wall)
        self.reads.append(wall)
        return wall

    def plan_shape(self):
        return gen_queries(self.r.sz["batch_queries"], [self.r.seed, _OPS, 0]), self.k

    def report(self):
        if self.rates:
            n = self.r.sz["batch_queries"]
            self.r.say("batch_qps", median(self.rates), "queries/s", f"median of {len(self.rates)} batches of {n}, k={self.k}")


class Interactive(_Serving):
    """A closed loop of one client sending single queries (1-5 terms,
    k=10): each request waits for the previous one."""

    name = "interactive"

    @property
    def k(self):
        return self.r.sz["single_k"]

    def warm(self):
        self.warm_search(self.idx, 1, self.k)

    def op(self, i):
        r = self.r
        qs = gen_queries(1, [r.seed, _OPS, i], prefix=f"r{i}-")
        wall, out, _ = _timed_search(r, self.idx, qs, self.k, False)
        self.results[i] = (dict(qs), _rows(out))
        self.rates.append(1 / wall)
        self.reads.append(wall)
        return wall

    def plan_shape(self):
        return gen_queries(1, [self.r.seed, _OPS, 0]), self.k

    def report(self):
        r = self.r
        ms = [w * 1000 for w in self.reads]
        if not ms:
            return
        n = len(ms)
        r.say("query_p50_ms", percentile(ms, 50), "ms", f"n={n}")
        p = top_percentile_with_tail(n)
        r.say("query_p90_ms", percentile(ms, 90), "ms", f"n={n}; p{p} is the highest percentile with >=10 samples above it")


class IngestServe(Workload):
    """Writes beside reads: each op upserts a page batch (half the urls
    replace live docs, half are new), then each reader reloads the index
    and runs a small query batch on it, then compact_auto runs (it merges
    only when the tiered policy fires). Every page version carries a unique
    marker term, so the gate can find it."""

    name = "ingest_serve"

    def setup(self):
        r = self.r
        sz = r.sz
        base = corpus(r.spark, sz["base_docs"], r.seed, _MAIN)
        marker = F.concat(F.lit("pbmkb"), F.regexp_extract("url", r"/(\d+)$", 1))
        text = F.concat_ws(" ", "text", marker)
        self.pages = base.withColumn("text", text).withColumn("html", F.encode(text, "utf-8"))
        self.index_dir = r.path("ingest")
        # the base is a bulk build of two like-sized segments, so the first
        # write's compact_auto merges them and drops its tombstones; upsert
        # segments sit a tier below and merge with each other on every
        # second write. The base build is also the warm-up: it runs the
        # append path once. There is no warm-up write or read: a warm-up
        # upsert costs as much as the timed one and, measured, left the
        # timed write no faster, and a warm-up read left the fresh read's
        # spread over seeds no smaller, so the timed read is the session's
        # first query, as in bulk_build.
        with r.tracer.span("session", "warmup"):
            t0 = time.perf_counter()
            build_index(r.spark, self.pages, self.index_dir, num_shards=sz["base_shards"],
                        num_term_buckets=TERM_BUCKETS, block_size=BLOCK_SIZE)
            r.warmup_s = time.perf_counter() - t0
        # live: url -> marker of its current version
        self.live = {
            f"https://site{i % 997}.example/{i}": f"pbmkb{i}" for i in range(sz["base_docs"])
        }
        self.written: dict = {}  # marker -> op key that wrote it
        self.replaced_by: dict = {}  # replaced version's marker -> op key

    def batch(self, key, n: int, seed):
        """n pages as a local frame: half replace live urls, half are new."""
        r = self.r
        rng = np.random.default_rng(seed)
        urls = sorted(self.live)
        replaced = [urls[j] for j in rng.choice(len(urls), size=n // 2, replace=False)]
        fresh = [f"https://site{j % 997}.example/new/{key}-{j}" for j in range(n - n // 2)]
        src = corpus(r.spark, n, int(rng.integers(1 << 30)), _OPS).collect()
        rows = []
        for j, (row, url) in enumerate(zip(src, replaced + fresh)):
            marker = f"pbmk{key}p{j}"
            text = f"{row['text']} {marker}"
            rows.append((url, row["warc_ts"], text.encode("utf-8"), text, row["lang"]))
            if url in self.live:
                self.replaced_by[self.live[url]] = key
            self.live[url] = marker
            self.written[marker] = key
        return r.spark.createDataFrame(rows, PAGES_SCHEMA)

    def op(self, i):
        """upsert -> fresh reads -> compact_auto. Each read is a reader that
        reloads the index and runs its own small query batch, as every
        reader pays after a write."""
        r, sz = self.r, self.r.sz
        seed = [r.seed, _OPS, i]
        pages = self.batch(i, sz["upsert_pages"], seed)  # the client's input, prepared untimed
        t0 = time.perf_counter()
        with r.tracer.span("index.deletes", "upsert_docs"):
            upsert_docs(r.spark, pages, self.index_dir)
        upserted = time.perf_counter() - t0
        self.rates.append(sz["upsert_pages"] / upserted)
        if r.tracer.enabled:
            # counting probe: the state the fresh reads below meet
            with r.tracer.span("probe", "segments") as sp:
                idx = load_index(r.spark, self.index_dir)
                sp["segments"] = idx.manifest.count()
                sp["tombstones"] = idx.deletes.count() if idx.has_deletes() else 0
        reads = [
            fresh_read(r, self.index_dir, gen_queries(sz["read_queries"], [*seed, j]), sz["single_k"])[0]
            for j in range(sz["reads_per_write"])
        ]
        self.reads += reads
        t1 = time.perf_counter()
        with r.tracer.span("index.compact", "compact_auto") as sp:
            merges = compact_auto(r.spark, self.index_dir)
        compacted = time.perf_counter() - t1
        if sp is not None:
            sp["merges"] = len(merges)
        return upserted + sum(reads) + compacted

    def plan_shape(self):
        return gen_queries(self.r.sz["read_queries"], [self.r.seed, _OPS, 0, 0]), self.r.sz["single_k"]

    def check(self):
        r = self.r
        idx = load_index(r.spark, self.index_dir)
        live = {m: u for u, m in self.live.items() if m in self.written}
        markers = sorted(set(live) | set(self.replaced_by))
        out = search_terms(idx, query_terms(idx, r.spark.createDataFrame(
            [(m, m) for m in markers], QUERY_SCHEMA)), k=10).collect()
        bad = gate.freshness_failures(gate.group_run(_rows(out)), live, list(self.replaced_by))
        for m in bad:
            # a stale version is the replacing op's failure
            r.fail(self.replaced_by.get(m, self.written.get(m)))

    def report(self):
        r = self.r
        if self.rates:
            n = len(self.rates)
            r.say("upsert_docs_per_s", median(self.rates), "docs/s", f"median of {n} upserts of {r.sz['upsert_pages']} pages")
            r.say("fresh_read_p50_ms", median(self.reads) * 1000, "ms", f"load_index + {r.sz['read_queries']} queries, {r.sz['reads_per_write']} per write, n={len(self.reads)}")


WORKLOADS = {w.name: w for w in (BulkBuild, BatchRetrieval, Interactive, IngestServe)}
