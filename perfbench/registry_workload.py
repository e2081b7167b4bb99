"""registry_warm and registry_cold: passes over registry queries.

Each op is `QUERIES[name](spark, sf_dir)` (the build) and the returned
frame's count (the action). The count runs as `groupBy().count()` and a
collect of its one row, which is the plan `Dataset.count()` executes,
so the traced run can read the Catalyst phases of the QueryExecution
that actually ran.

QUERY_SET is a fixed subset of the registry: one query from every module
that defines registry queries, chosen to cover the layers named in
NOTES.md. The whole registry does not fit the run budget; NOTES.md has
the sizing.
"""

from __future__ import annotations

import random
import sys
import time

QUERY_SET = (
    "assign_chain_events",  # registry: applyInPandas chain fold
    "q8_market_share",  # queries_tpch: the multi-join band
    "sliding_window_events",  # queries_analytics: windows over events
    "merge_upsert_orders",  # queries_engine
    "chunk_docs",  # queries_pipeline
    "cluster_maturity_embeddings",  # queries_embed
    "grouping_sets_orders",  # queries_sql
    "causality_trace_events",  # queries_lifecycle
    "code_mode_savings_docs",  # queries_interop
    "asof_join_events",  # queries_text
    "rrf_explain_docs",  # queries_recall: BM25 + dense + RRF
)
DATA = "sf0.01"


def module_of(name: str) -> str:
    from mnemo_spark.registry import QUERIES

    return QUERIES[name].__module__.rsplit(".", 1)[-1]


def count(df):
    counted = df.groupBy().count()
    return counted.collect()[0][0], counted


def collect(df):
    return (df.columns, [tuple(r) for r in df.collect()]), None


def run_pass(ctx, order, build, label, timed, action=count):
    ops = []
    t0 = time.perf_counter()
    with ctx.tracer.span(label, "pass", timed=timed):
        for name in order:
            ops.append(
                ctx.run_op(
                    module_of(name),
                    name,
                    lambda name=name: build(name),
                    action,
                    timed=timed,
                )
            )
    return time.perf_counter() - t0, ops


def run(ctx, warm: bool) -> None:
    from mnemo_spark.io import TABLES, load_table
    from mnemo_spark.registry import QUERIES

    from perfbench.harness import CORES, DATA_DIR
    from perfbench.oracle import Oracle

    sf_dir = f"{DATA_DIR}/{ctx.data or DATA}"
    ctx.detail["data"] = sf_dir
    rng = random.Random(ctx.seed)
    names = list(QUERY_SET)

    # the frames of the last timed pass, collected again for the row check
    # (with no plan cache in the cold regime, a rebuild would be a second
    # cold pass)
    frames = {}

    def build(name):
        frames[name] = QUERIES[name](ctx.spark, sf_dir)
        return frames[name]

    def permuted():
        order = names[:]
        rng.shuffle(order)
        return order

    if warm:
        t0 = time.perf_counter()
        with ctx.tracer.span("table_load", "setup"):
            for t in TABLES:
                load_table(ctx.spark, sf_dir, t).count()
        ctx.setup["io.table_load_s"] = time.perf_counter() - t0
        # the warm-up pass builds every plan and compiles it for the first
        # time: the cold regime under serving mode, kept as set-up detail
        wall, ops = run_pass(ctx, permuted(), build, "warmup", timed=False)
        ctx.setup["warmup.pass_s"] = wall
        ctx.setup["warmup.build_s"] = sum(op.build_s for op in ops)
        ctx.setup["warmup.exec_s"] = sum(op.exec_s for op in ops)

    # warm: at least three passes; the pass right after the plan-building
    # pass can still be slow, and the median of three leaves it out.
    # cold: one pass, so each query is built and executed once
    passes = {"at_least": 3} if warm else {"at_most": 1}
    for i in ctx.timed_loop(**passes):
        wall, _ = run_pass(ctx, permuted(), build, f"pass{i}", timed=True)
        ctx.iterations.append(wall)

    ctx.storage_snapshot()

    # -- output checks, outside timing -----------------------------------
    oracle = Oracle(sf_dir, names, CORES)
    _, collected = run_pass(ctx, names, frames.get, "oracle", False, collect)
    rows_by_name = {}
    for op in collected:
        if op.ok is False:
            ctx.checks[f"rows:{op.name}"] = "collect raised"
            continue
        cols, rows = op.value
        rows_by_name[op.name] = len(rows)
        ctx.checks[f"rows:{op.name}"] = oracle.check_rows(op.name, cols, rows)
    for op in ctx.ops:
        if op.ok is False:
            continue
        expected = oracle.count(op.name)
        if expected is None:
            expected = rows_by_name.get(op.name)
        op.ok = op.value == expected
        if not op.ok:
            print(
                f"# FAIL {op.name}: count {op.value} != expected {expected}",
                file=sys.stderr,
            )
