"""Benchmark of record for openmatch_spark — one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones (measured untraced), with --trace 1 the per-layer
ones (from a separate traced run of the same workload, which also writes a
span file under .perfbench/traces/ and prints a self-time table). Lines
above it are a human-readable report. Exit status: 0 when every output
passed the correctness gate, 1 when one did not, 2 when the run could not
complete.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from contextlib import nullcontext

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))

from perfbench import harness  # noqa: E402

# (name, unit); BENCHMARK.json's end_to_end list is exactly this list
END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "items/s"),
    ("read_p50_ms", "ms"),
    ("index_bytes_per_doc", "bytes/doc"),
    ("ops_ok_frac", "ratio"),
]


def _metrics(values: dict, spec) -> dict:
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in spec}


def run_workload(name: str, seed: int, seconds: float, trace: bool, scale: str = "full"):
    """Run one workload in this process (the Spark session is started and
    stopped here). Returns (result dict, report lines)."""
    work = harness.make_work_dir()
    spark = None
    try:
        env = harness.pin_environment(work)
        # imported after pin_environment: the JVM and workers inherit its env
        from perfbench import layers
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS, Run

        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}; one of {sorted(WORKLOADS)}")
        t0 = time.perf_counter()
        spark = harness.start_spark(work)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=trace)
        r = Run(spark, tracer, work, seed, scale)
        w = WORKLOADS[name](r)
        lines = [f"env {env}"]
        with layers.inner_spans(tracer) if trace else nullcontext():
            w.setup()
            setup_s = time.perf_counter() - t0
            first = len(tracer.spans)
            harness.timed_loop(seconds, lambda i: r.op(i, lambda: w.op(i)))
            window = tracer.spans[first:]
            t_gate = time.perf_counter()
            w.check()
            t_end = time.perf_counter()
        lines.append(
            f"wall: setup {setup_s:.1f}s, window {t_gate - t0 - setup_s:.1f}s, "
            f"gate {t_end - t_gate:.1f}s"
        )
        failed = len(r.failed_ops)
        correct = failed == 0 and r.walls != []
        if trace:
            metrics = _per_layer(r, w, window, session_s, lines)
            path = os.path.join(harness.OUT_DIR, "traces", f"{name}-seed{seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tracer.write(path, {"workload": name, "seed": seed, "metrics": metrics})
            lines.append(f"span file {os.path.relpath(path, harness.ROOT)}")
        else:
            w.report()
            lines += r.lines
            values = {"setup_s": setup_s, "ops_ok_frac": (r.attempted - failed) / max(r.attempted, 1)}
            if r.walls:
                values["items_per_s"] = harness.median(w.rates)
                values["read_p50_ms"] = harness.median(w.reads) * 1000
                values["index_bytes_per_doc"] = harness.dir_bytes(w.index_dir)[0] / w.n_docs()
            lines.append("op walls (s): " + " ".join(f"{x:.3f}" for x in r.walls))
            lines.append("read walls (s): " + " ".join(f"{x:.3f}" for x in w.reads))
            metrics = _metrics(values, END_TO_END)
            for m, v in metrics.items():
                lines.append(f"{m:<24} {v['value']:>14.4f} {v['unit']}")
        lines.append(f"attempted {r.attempted} failed {failed} ({name}, seed {seed}, {len(r.walls)} timed ops)")
        result = {"correct": correct, "attempted": r.attempted, "failed": failed, "metrics": metrics}
        return result, lines
    finally:
        try:
            if spark is not None:
                harness.stop_spark(spark)
        finally:
            harness.remove_work_dir(work)


def _per_layer(r, w, window: list[dict], session_s: float, lines: list) -> dict:
    """Per-layer metrics of a traced run: the window's spans, the probes
    (run now, after the window and the gate), and the run-wide counts.
    The tracing overhead is the time the tracer spent opening and closing
    spans inside each op, the direct part of the traced minus the untraced
    op wall; the difference of two runs would be lost in run-to-run noise."""
    from perfbench import layers

    tr = r.tracer
    m = layers.probe_metrics(r, w)
    m.update(layers.window_metrics(tr, window, len(r.walls)))  # the window's own state wins
    m["session.start_s"] = session_s
    m["session.warmup_s"] = r.warmup_s
    m["spark.tasks_failed"] = tr.failed_tasks()
    m["trace.spans"] = len(tr.spans)
    m["trace.overhead_ms_per_op"] = harness.median(r.bookkeeping) * 1000 if r.bookkeeping else 0.0
    lines += ["self time by layer over the traced window:", tr.table(window)]
    return _metrics(m, layers.PER_LAYER)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, lines = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), args.scale
        )
    except Exception:
        import traceback

        traceback.print_exc()
        return 2
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
