"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see NOTES.md for why each exists):
  registry_warm  passes over registry queries in serving mode
  registry_cold  one pass, every query built and executed for the first time
  memory_mixed   engine verbs, writes beside reads, on a resident store

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans are written under
.perfbench_work/traces/. A readable summary goes to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

WORKLOADS = ("registry_warm", "registry_cold", "memory_mixed")

# name -> unit; every workload reports every one. No tail percentile is
# bounded: a memory_mixed run has seven ops and a registry_warm run about
# thirty, too few for ten samples beyond a p90 (the stderr summary still
# gives query_p90_s with its sample count).
E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.data_s": "s",
    "op.build_s": "s",
    "op.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "python.udf_s": "s",
    "python.sent_mb": "MB",
    "python.recv_mb": "MB",
    "cache.persisted_rdds": "count",
    "cache.cached_mb": "MB",
    "trace.overhead_frac": "ratio",
}
# per-layer metric <- span attribute summed over the timed leaf spans
SPAN_SUMS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.shuffle_read_mb": "shuffle_read_mb",
    "spark.spill_mb": "spill_mb",
    "catalyst.analysis_s": "catalyst_analysis_s",
    "catalyst.optimization_s": "catalyst_optimization_s",
    "catalyst.planning_s": "catalyst_planning_s",
    "python.udf_s": "python_udf_s",
    "python.sent_mb": "python_sent_mb",
    "python.recv_mb": "python_recv_mb",
}
LIFECYCLE_GROUPS = ("forget", "ttl_sweep", "verify")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--data",
        default=None,
        help="input directory under perfbench/data (default: sf0.01 for the "
        "registry workloads, sf0.1 documents for memory_mixed)",
    )
    return p.parse_args(argv)


def end_to_end(ctx) -> dict:
    times = [op.seconds for op in ctx.ops]
    return {
        "setup_s": ctx.t_first_timed - ctx.t_process,
        "pass_s": statistics.median(ctx.iterations),
        "op_p50_s": statistics.median(times),
    }


def per_layer(ctx, e2e: dict) -> dict:
    n = len(ctx.iterations)
    timed_leaves = timed_leaf_spans(ctx.tracer)
    out = {
        "session.start_s": ctx.setup["session.start_s"],
        "setup.data_s": e2e["setup_s"] - ctx.setup["session.start_s"],
        "op.build_s": sum(op.build_s for op in ctx.ops) / n,
        "op.exec_s": sum(op.exec_s for op in ctx.ops) / n,
        "cache.persisted_rdds": ctx.storage["persisted_rdds"],
        "cache.cached_mb": ctx.storage["cached_mb"],
        "trace.overhead_frac": ctx.timed_overhead_s
        / max(ctx.timed_wall_s - ctx.timed_overhead_s, 1e-9),
    }
    for metric, attr in SPAN_SUMS.items():
        out[metric] = sum(leaf.attrs.get(attr, 0.0) for _, leaf in timed_leaves) / n
    return out


def timed_leaf_spans(tracer):
    """(op span, leaf span) for every build/exec span of a timed op."""
    by_id = {s.id: s for s in tracer.spans}
    out = []
    for s in tracer.spans:
        if s.kind in ("build", "exec"):
            op = by_id[s.parent]
            if op.attrs.get("timed"):
                out.append((op, s))
    return out


def layer_detail(ctx, workload: str) -> dict:
    """Per module (registry) or per engine verb (memory_mixed): build and
    exec seconds and jobs per timed pass or step."""
    n = len(ctx.iterations)
    detail: dict[str, float] = {}
    for op, leaf in timed_leaf_spans(ctx.tracer):
        if workload.startswith("registry"):
            key = f"q.{op.attrs['group']}"
        else:
            key = "engine.materialized" if leaf.name == "materialized" else f"engine.{op.name}"
        field = "build_s" if leaf.kind == "build" else "exec_s"
        detail[f"{key}.{field}"] = detail.get(f"{key}.{field}", 0.0) + leaf.seconds / n
        detail[f"{key}.jobs"] = detail.get(f"{key}.jobs", 0.0) + leaf.attrs["jobs"] / n
    return dict(sorted(detail.items()))


def named_latencies(ctx, workload: str) -> dict:
    """The per-workload figures a reader looks for first, with samples."""
    def p50(groups):
        xs = [op.seconds for op in ctx.ops if op.group in groups]
        return {"value": statistics.median(xs), "samples": len(xs)} if xs else None

    if workload.startswith("registry"):
        times = [op.seconds for op in ctx.ops]
        return {
            "pass_s": statistics.median(ctx.iterations),
            "query_p50_s": statistics.median(times),
            "query_p90_s": harness.percentile(times, 90),
            "query_samples": len(times),
            "passes": len(ctx.iterations),
        }
    return {
        "step_s": statistics.median(ctx.iterations),
        "steps": len(ctx.iterations),
        "write_p50_s": p50(("write",)),
        "recall_p50_s": p50(("recall",)),
        "recall_batch_p50_s": p50(("recall_batch",)),
        "lifecycle_p50_s": p50(LIFECYCLE_GROUPS),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    warm = args.workload == "registry_warm"
    pinned = harness.pin_environment(cache_tables=warm)
    try:
        import pyspark  # noqa: F401

        import mnemo_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    spark = harness.start_session()
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = harness.Context(spark, tracer, args, T_PROCESS)
        ctx.setup["session.start_s"] = time.perf_counter() - t0
        if args.workload == "memory_mixed":
            from perfbench import memory_workload

            memory_workload.run(ctx)
        else:
            from perfbench import registry_workload

            registry_workload.run(ctx, warm=warm)
        tracer.attribute_spark_metrics()
        echo = harness.environment_echo(spark, ctx.detail["data"], args.seed, pinned)
    finally:
        harness.stop_session(spark)

    failed = sum(1 for op in ctx.ops if op.ok is not True)
    failed += sum(1 for why in ctx.checks.values() if why is not None)
    attempted = len(ctx.ops) + len(ctx.checks)
    e2e = end_to_end(ctx)
    summary = {
        "workload": args.workload,
        "env": echo,
        "setup": ctx.setup,
        "named": named_latencies(ctx, args.workload),
        "end_to_end": e2e,
        "storage": ctx.storage,
        "attempted": attempted,
        "failed_ops": failed,
        "failed_checks": {k: v for k, v in ctx.checks.items() if v},
        "store": ctx.detail.get("store"),
    }
    if args.trace:
        summary["per_layer"] = per_layer(ctx, e2e)
        summary["layers"] = layer_detail(ctx, args.workload)
        path = os.path.join(
            harness.WORK_DIR,
            "traces",
            f"{args.workload}-seed{args.seed}-{tracer.run_id}.json",
        )
        tracer.write(path, summary)
        summary["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(summary, indent=1, default=str), file=sys.stderr)

    units = PER_LAYER if args.trace else E2E
    values = summary["per_layer"] if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
