"""Structured Streaming event ingest (SURVEY §2.7, T1/T7).

The reference appends audit events request-by-request
(remember.rs:212-257) with no continuous operators. The Spark-native
form is a file/queue stream → event-time windowed aggregations with
watermarks → append sinks; the same transformations run identically
on a batch DataFrame (tumbling_event_counts in the registry is the
batch twin, which is how the oracle gate covers the logic).

Scale notes: watermark bounds state; window aggs shuffle on
(window, key) — at 1000 executors keep `spark.sql.shuffle.partitions`
sized to cores and let AQE coalesce. The per-user hash chain (W7)
would run in foreachBatch so each micro-batch extends chains
sequentially per user while users parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ts unit varies by data generation: TIMESTAMP(NANOS) surfaces as an
# epoch-nanos LONG under spark.sql.legacy.parquet.nanosAsLong, while
# TIMESTAMP(MICROS) surfaces as a plain timestamp. The stream reader
# probes the actual file schema (one batch-read of footers, no data
# scan) and converts only when the long form shows up — mirroring
# io.load_table's batch behavior exactly.
def _event_schema(ts_is_long: bool) -> StructType:
    from pyspark.sql.types import TimestampType

    return StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", LongType() if ts_is_long else TimestampType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a directory of event parquet files.

    One file per micro-batch by default (maxFilesPerTrigger=1) so
    tests exercise multi-batch accumulation. ts lands as a µs
    timestamp regardless of the file's physical unit, exactly like
    the batch loader.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        ts_is_long = isinstance(
            spark.read.parquet(path).schema["ts"].dataType, LongType
        )
    except Exception:  # noqa: BLE001
        # empty or not-yet-created directory: fall back to the nanos
        # LONG schema (the generator's native unit) so the stream can
        # be DEFINED before its source exists — files are re-probed by
        # the running query, not by this one-time schema choice
        ts_is_long = True
    raw = (
        spark.readStream.schema(_event_schema(ts_is_long))
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts with a late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_available_now(stream_df: DataFrame, table_name: str) -> None:
    """Drain everything currently available into an in-memory table
    (complete mode) and stop — the batch-equivalence harness used by
    tests; production would use an append sink + checkpointLocation.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def running_user_totals(
    events: DataFrame, timeout_minutes: int | None = None
) -> DataFrame:
    """Custom stateful operator (SURVEY §2.7 applyInPandasWithState):
    per-user running event count + value total carried across
    micro-batches — the streaming twin of the A2 agent-profile
    rolling stats. Pass timeout_minutes for processing-time state
    expiry (unbounded-key deployments); None keeps state forever
    (and skips the per-trigger cleanup batch).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def dedup_stream(
    events: DataFrame, key_cols: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen,
    with state bounded by the event-time watermark (the training-data
    pipeline's dedup gate applied at ingest — late duplicates beyond
    the watermark age out of state and are the documented trade-off).

    Uses dropDuplicatesWithinWatermark: plain dropDuplicates(subset)
    only purges state when the event-time column is IN the subset, so
    keying on event_id alone would grow state unboundedly on a
    long-running stream.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def chained_hashes_stream(events: DataFrame) -> DataFrame:
    """Cross-batch hash-chain assignment (reference W7/T1 as a stream,
    remember.rs:100-111): each user's chain head survives in keyed
    value state, so a new micro-batch's first event links to the last
    event of every batch before it — the streaming twin of
    operators/chain.assign_chain with `prev_head` handoff.

    Keyed value state via applyInPandasWithState. (The Spark-4-native
    successor, transformWithStateInPandas + RocksDB StatefulProcessor,
    is API-compatible with this shape but its Python driver worker
    needs google.protobuf, absent in this container — the processor
    would be a mechanical port.) Within a batch, rows fold in
    (ts, event_id) order; across batches, ARRIVAL order — the same
    single-writer-per-agent serialization contract as the reference's
    connection mutex. A late event (earlier ts landing in a later
    micro-batch) therefore chains where it ARRIVED, diverging from the
    batch assign_chain fold over the same rows: chains stay internally
    verifiable (each prev_hash still links), but cross-checking against
    a batch rebuild requires either in-order delivery upstream
    (dedup_stream's watermark bound is the natural gate) or rejecting
    out-of-window events before this operator. This is deliberate —
    an append-only audit chain must never rewrite committed hashes to
    re-admit a late row.

    → append stream of (user_id, event_id, prev_hash, chain_hash).
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        (prev,) = state.get if state.exists else ("",)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        prevs, chains = [], []
        for h in pdf["ch"]:
            prevs.append(prev)
            prev = hashlib.sha256((h + prev).encode()).hexdigest()
            chains.append(prev)
        state.update((prev,))
        yield pd.DataFrame(
            {
                "user_id": pdf["user_id"].values,
                "event_id": pdf["event_id"].values,
                "prev_hash": prevs,
                "chain_hash": chains,
            }
        )

    hashed = events.select(
        "user_id",
        "ts",
        "event_id",
        F.sha2(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("value").cast("decimal(18,2)").cast("string"),
            ),
            256,
        ).alias("ch"),
    )
    return hashed.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id long, event_id long, prev_hash string, chain_hash string",
        stateStructType="head string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(
    events: DataFrame, dims: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch left-joins the
    static dimension snapshot (reference: recall hydrates agent
    profiles per request; the streaming form hydrates per batch).

    The static side is broadcast — stream-static joins cannot shuffle
    the stream side into a sort-merge, and at 100 TB the dimension
    snapshot is exactly the side small enough to ship. File-backed
    static frames are re-resolved per micro-batch, so a refreshed
    dimension snapshot lands without restarting the query.
    """
    return events.join(F.broadcast(dims), on, "left")


def _read_sink(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Read a foreachBatch sink dir, or None iff the path does not
    exist YET (the first micro-batch). ONLY the path-missing case is
    swallowed: any other read failure — corrupt footer, FS hiccup,
    permissions — must fail the micro-batch so the checkpoint retries
    it. Treating those as "empty sink" would silently skip the key
    anti-join (duplicating keys) and, on the chain sink, the head
    lookup (re-chaining from genesis and forking the audit chain) —
    ADVICE r8."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(out_dir)
    except AnalysisException as e:
        cond = (
            e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
        )
        if cond == "PATH_NOT_FOUND":
            return None
        raise


def merge_parquet_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("event_id",),
):
    """Idempotent append sink via foreachBatch: each micro-batch
    anti-joins the sink's existing keys before appending, so a
    REPLAYED batch (restart between write and epoch commit, or a
    whole-stream re-run over the same files) never duplicates rows —
    upgrading the file sink's at-least-once to effective
    exactly-once on the key.

    This is the parquet stand-in for transactional MERGE (reference
    gets it from DuckDB upsert, storage/duckdb.rs:136-256; the
    production Spark form is Delta/Iceberg MERGE, DESIGN.md) — the
    key-scan cost is one column's footer-pruned read per batch, and at
    scale the sink table is partitioned so the anti-join prunes to
    recent partitions. Returns the DataStreamWriter (caller starts it).
    """
    keys = list(key_cols)

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        stored = _read_sink(batch_df.sparkSession, out_dir)
        fresh = (
            batch_df
            if stored is None
            else batch_df.join(stored.select(*keys), keys, "left_anti")
        )
        fresh.write.mode("append").parquet(out_dir)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def chain_merge_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    part_cols: tuple[str, ...] = ("user_id",),
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    key_cols: tuple[str, ...] = ("event_id",),
    hash_col: str = "ch",
):
    """Idempotent merge sink that ASSIGNS THE EVENT CHAIN in
    foreachBatch — the durable form of the reference's append-only
    audit contract (storage/mod.rs:156-166; remember.rs:100-111) on a
    restartable stream:

    1. anti-join the batch against the sink's stored keys — a
       REPLAYED epoch (killed between write and checkpoint commit, or
       a whole re-run over the same files) contributes nothing, so a
       replay can never fork or double-extend a chain;
    2. read each chain's stored head (chain_hash, chain_seq of the
       max-seq row) — one max_by aggregate over the sink, at scale a
       footer-pruned scan of the heads partition / stored heads table;
    3. operators/chain.assign_chain(prev_head=heads, seq_col) over
       the surviving rows — batches extend chains sequentially per
       key while keys parallelize, byte-compatible with the batch
       fold (the restart pytest proves verify_chain == 0 breaks and
       head-equality with a one-shot batch rebuild).

    Returns the DataStreamWriter (caller starts it). `_merge_chain_
    batch` is exposed for direct unit-level replay testing.
    """
    from mnemo_spark.operators.chain import assign_chain

    keys = list(key_cols)
    parts = list(part_cols)
    order = list(order_cols)

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        stored = _read_sink(batch_df.sparkSession, out_dir)
        fresh = batch_df
        heads = None
        if stored is not None:
            fresh = batch_df.join(stored.select(*keys), keys, "left_anti")
            heads = stored.groupBy(*parts).agg(
                F.max_by("chain_hash", F.col("chain_seq")).alias("chain_head"),
                F.max("chain_seq").alias("head_seq"),
            )
        chained = assign_chain(
            fresh, parts, order, hash_col, prev_head=heads, seq_col="chain_seq"
        )
        chained.write.mode("append").parquet(out_dir)

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    writer._merge_chain_batch = write_batch  # unit-level replay hook
    return writer


def view_purchase_join_stream(
    events: DataFrame, max_gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase pairs with the same
    user's view events from the preceding `max_gap` — attribution at
    ingest time. Both sides carry watermarks and the join condition
    bounds event-time distance, so state for unmatched rows ages out
    (unbounded stream-stream joins without a time bound are rejected
    by Spark for exactly the 100-TB reason).

    The same expression over batch frames is the oracle twin — tests
    prove set equality.
    """
    v = (
        events.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"))
    )
    return p.join(
        v,
        (p.user_id == v.v_user)
        & (v.v_ts <= p.ts)
        & (v.v_ts >= p.ts - F.expr(f"INTERVAL {max_gap}")),
        "inner",
    ).select("user_id", "purchase_id", "view_id", "ts", "v_ts")


def rollup_merge_sink(
    stream_df: DataFrame,
    tx_path: str,
    checkpoint_dir: str,
    app_id: str = "rollup_sink",
):
    """Streaming incremental rollup maintained TRANSACTIONALLY: each
    micro-batch aggregates its delta (user_id, event_type → count,
    sum) and merges it into a TxTable snapshot by re-aggregating the
    partials — the streaming form of `incremental_rollup_events`, with
    exactly-once batch semantics via the txn watermark (a replayed
    micro-batch sees its batch_id ≤ last_txn and skips — the
    Delta txnAppId/txnVersion pattern at file level).

    Every commit is a full-rollup snapshot, so the table's version
    history IS the rollup's time travel. Returns the DataStreamWriter.
    """
    from mnemo_spark.sources.txlog import TxTable

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tx = TxTable(tx_path)
        delta = batch_df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        if tx.latest_version() is None:
            tx.commit(delta, mode="append", txn=(app_id, batch_id))
            return
        last = tx.last_txn(app_id)
        if last is not None and batch_id <= last:
            return  # replayed epoch: already durable
        merged = (
            tx.snapshot(spark)
            .unionByName(delta)
            .groupBy("user_id", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("total_value").alias("total_value"),
            )
        )
        tx.commit(merged, mode="overwrite", txn=(app_id, batch_id))

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
