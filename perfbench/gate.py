"""Correctness gate, run outside every timed region.

Retrieval results must match `openmatch_spark.oracle.BM25Oracle`: the same
doc_ids at the same ranks, exactly, and the same scores to within
SCORE_TOL. The tolerance is the one the repository's own oracle tests use:
the index stores weights computed on the JVM at build time, the oracle
computes them in Python, and the two may differ in the last bit. Ingest results are
checked for freshness instead (frozen statistics after upserts make scores
differ from a fresh-build oracle by design): every upserted page version is
found by its unique marker term, and no replaced version is found.
"""

from __future__ import annotations

import sys

from openmatch_spark.oracle import BM25Oracle

SCORE_TOL = 1e-9


def oracle_for(pages) -> BM25Oracle:
    """Oracle over the exact (url, text) rows the index was built from."""
    rows = pages.select("url", "text").collect()
    return BM25Oracle({r["url"]: r["text"] for r in rows})


def group_run(rows) -> dict:
    """{query_id: [(doc_id, score, rank)]} in rank order from run rows
    (Rows, or tuples in (query_id, doc_id, score, rank) order)."""
    out: dict = {}
    for q, d, s, r in rows:
        out.setdefault(q, []).append((d, float(s), int(r)))
    for hits in out.values():
        hits.sort(key=lambda h: h[2])
    return out


def _same(g, w) -> bool:
    return g[0] == w[0] and g[2] == w[2] and abs(g[1] - w[1]) <= SCORE_TOL


def retrieval_mismatches(run: dict, oracle: BM25Oracle, queries: dict, k: int) -> list:
    """Query ids in `queries` ({qid: text}) whose engine top-k differs from
    the oracle's in length, any doc_id or rank, or any score by more than
    SCORE_TOL; each mismatch is described on stderr."""
    bad = []
    for qid, text in queries.items():
        got, want = run.get(qid, []), oracle.search(text, k)
        diff = next((i for i, (g, w) in enumerate(zip(got, want)) if not _same(g, w)), None)
        if diff is None and len(got) != len(want):
            diff = min(len(got), len(want))
        if diff is not None:
            bad.append(qid)
            print(
                f"gate: {qid} {text!r}: {len(got)} hits vs oracle {len(want)}; first "
                f"difference at rank {diff + 1}: {got[diff:diff + 1]} vs {want[diff:diff + 1]}",
                file=sys.stderr,
            )
    return bad


def freshness_failures(hits_by_marker: dict, live: dict, dead: list) -> list:
    """Markers that break freshness. live: {marker: url} of every page
    version that must be found (exactly that url, once); dead: markers of
    replaced versions, which must find nothing."""
    bad = []
    for marker, url in live.items():
        if [d for d, _, _ in hits_by_marker.get(marker, [])] != [url]:
            bad.append(marker)
    for marker in dead:
        if hits_by_marker.get(marker):
            bad.append(marker)
    return bad
