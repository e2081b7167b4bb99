"""SHA-256 content hashing + hash-chain folds (reference F1/F2/A9/W7).

The reference chains every memory/audit row per agent:
  content_hash = sha256(content | agent_id | timestamp)     (hash.rs:9-15)
  chain_hash   = sha256(content_hash ‖ prev_chain_hash)     (hash.rs:17-31)

Spark has no running-hash window aggregate, so the chain is expressed
two ways:

1. `chain_head_agg` — fold an ORDERED array of content hashes down to
   the chain head with `aggregate` (JVM-side, exactly mirrors DuckDB's
   `list_reduce`). Right for verification jobs that need one head (or
   a recomputed chain to diff against stored `prev_hash`).
2. `assign_chain` (operators/chain.py) — `applyInPandas` per agent
   partition assigning every row its prev_hash/chain_hash. The one
   operator in the engine that fights data parallelism; it stays
   parallel ACROSS agents (the partition key) and sequential within,
   which matches the reference's own serialization on the DuckDB
   mutex (remember.rs:104-111).

All hashes are lowercase hex strings end-to-end — identical in Spark
(`sha2(...,256)`) and DuckDB (`sha256(...)`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

GENESIS = ""  # chain seed for the first row of each agent


def content_hash(content: Column, agent_id: Column, ts: Column) -> Column:
    """sha256(content|agent|ts) as lowercase hex (reference hash.rs:9-15)."""
    return F.sha2(
        F.concat_ws("|", content, agent_id, ts.cast("string")),
        256,
    )


def chain_head_agg(ordered_hashes: Column) -> Column:
    """Fold an ordered array of hex hashes to the chain head.

    acc₀ = '' (GENESIS), acc = sha256(h ‖ acc) — exactly the per-row
    chain `assign_chain` builds, so head == last row's chain_hash.
    DuckDB twin: list_reduce(list_prepend('', hashes), (acc, x) ->
    sha256(concat(x, acc))).
    """
    return F.aggregate(
        ordered_hashes,
        F.lit(GENESIS),
        lambda acc, h: F.sha2(F.concat(h, acc), 256),
    )
