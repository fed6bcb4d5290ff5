"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload log_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402
from perfbench.harness import (  # noqa: E402
    EventLog,
    RssSampler,
    RunContext,
    Tracer,
    median,
)

SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}

# per-layer metric -> unit; a layer the workload does not use reads 0
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "model.scan_s": "s",
    "pipeline.build_s": "s",
    "pipeline.build_jobs": "count",
    "pipeline.run_s": "s",
    "pipeline.run_jobs": "count",
    "pipeline.speedup_vs_local1": "x",
    "parsers.self_s": "s",
    "parsers.match_ratio": "ratio",
    "operators.self_s": "s",
    "operators.kept_ratio": "ratio",
    "sinks.self_s": "s",
    "sinks.bytes_out": "bytes",
    "sinks.files_out": "count",
    "sp.parse_ms": "ms",
    "sp.compile_ms": "ms",
    "sp.plan_ms": "ms",
    "sp.exec_ms": "ms",
    "sp.jobs_per_query": "count",
    "sp.stages_per_query": "count",
    "sp.tasks_per_query": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.backlog_files_max": "count",
    "retrieval.build_s": "s",
    "retrieval.append_s": "s",
    "retrieval.load_ms": "ms",
    "retrieval.serve_ms": "ms",
    "retrieval.jobs_per_serve": "count",
    "retrieval.index_bytes": "bytes",
    "retrieval.versions": "count",
    "similarity.build_s": "s",
    "similarity.append_s": "s",
    "similarity.serve_ms": "ms",
    "similarity.recall_at_k": "ratio",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.core_busy_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.layer_sum_frac": "ratio",
}


def workload_class(name: str):
    if name == "log_batch":
        from perfbench.log_batch import LogBatch

        return LogBatch
    if name == "sp_interactive":
        from perfbench.sp_interactive import SpInteractive

        return SpInteractive
    raise SystemExit(f"unknown workload {name!r}")


def run(ctx: RunContext, expect_override=None) -> dict:
    """Run one workload; returns the result object that is printed.

    ``expect_override`` lets the self-test replace the expected answers
    with wrong ones to prove that the checkers count mismatches."""
    harness.prepare_workdir(ctx)
    wl = workload_class(ctx.workload)(ctx)
    wl.generate()
    if expect_override is not None:
        expect_override(wl)
    rss = RssSampler().start()
    layer: dict[str, float] = {}
    try:
        # launch the JVM once; every set-up below starts a fresh
        # SparkContext in it, so the launch itself is not part of setup_s
        harness.stop_session(harness.start_session(ctx, event_log=ctx.trace))
        setups, starts, warms = [], [], []
        spark = None
        for i in range(SETUP_REPEATS):
            if spark is not None:
                wl.teardown(spark)
                harness.stop_session(spark)
            t0 = time.perf_counter()
            spark = harness.start_session(ctx, event_log=ctx.trace)
            t1 = time.perf_counter()
            wl.prepare(spark)
            t2 = time.perf_counter()
            wl.warmup(spark)
            t3 = time.perf_counter()
            setups.append(t3 - t0)
            starts.append(t1 - t0)
            warms.append(t3 - t2)

        wl.run(spark, Tracer(False), ctx.seconds)
        if ctx.trace:
            untraced = wl.end_to_end()
            tracer = Tracer(True)
            wl.reset()
            t0 = time.time()
            wl.run(spark, tracer, ctx.seconds)
            t1 = time.time()
            traced = wl.end_to_end()
            layer["trace.overhead_frac"] = (
                traced["latency_p50_ms"] / untraced["latency_p50_ms"] - 1.0
            )
            layer["session.start_s"] = median(starts)
            layer["session.warmup_s"] = median(warms)
            # the event log is complete once its SparkContext stops
            evlog_window = (t0, t1)
            if hasattr(wl, "twin"):
                wl.twin(spark)
        attempted, failed, errors = wl.check(spark)
        if ctx.trace:
            wl.teardown(spark)
            harness.stop_session(spark)
            spark = harness.start_session(ctx, event_log=False)
            evlog = EventLog.read(str(ctx.work / "eventlog"))
            layer.update(evlog.exec_metrics(*evlog_window, ctx.cores))
            layer.update(wl.layers(spark, tracer, evlog, t1 - t0))
            if hasattr(wl, "single_core_speedup"):
                harness.stop_session(spark)
                layer["pipeline.speedup_vs_local1"] = wl.single_core_speedup(ctx)
                spark = harness.start_session(ctx, event_log=False)
            tracer.dump(str(harness.WORK_ROOT / f"trace-{ctx.workload}.json"))
        wl.teardown(spark)
        harness.stop_session(spark)
    finally:
        harness.shutdown_jvm()
        peak_mb = rss.stop()
        wl.close()
        harness.remove_workdir(ctx)

    if ctx.trace:
        values = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
        values["peak_rss_mb"] = peak_mb
        units = PER_LAYER
    else:
        values = {"setup_s": median(setups), **wl.end_to_end()}
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        "errors": errors,
        "aliases": getattr(wl, "aliases", {}),
    }


def report(result: dict) -> None:
    """Human-readable lines, then the one-line JSON result last."""
    for err in result["errors"][:20]:
        print(f"MISMATCH {err}")
    fail_rate = result["failed"] / result["attempted"]
    print(f"{'fail_rate':32s} {fail_rate:.6g} ratio "
          f"({result['failed']} of {result['attempted']} operations)")
    for name, m in result["metrics"].items():
        alias = result["aliases"].get(name)
        shown = f"{name} ({alias})" if alias else name
        print(f"{shown:32s} {m['value']:.6g} {m['unit']}")
    out = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(out), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import fluent_bit_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2
    ctx = RunContext(args.workload, args.seed, args.seconds, bool(args.trace))
    report(run(ctx))
    return 0


if __name__ == "__main__":
    sys.exit(main())
