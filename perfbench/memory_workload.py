"""memory_mixed: engine verbs against a resident store, writes beside reads.

Set-up writes an initial store with `remember_batch(...).materialized()`.
Then, inside `engine.serving()`, fixed steps run; each step is

  one `remember_batch` of WRITE_ROWS new rows, then `materialized()`;
  RECALLS single `recall` calls;
  one `recall_batch` of BATCH_QUERIES queries;
  the lifecycle verbs: `forget` (soft) + `materialized()`,
  `run_ttl_sweep` + `materialized()`, and `verify_integrity`.

All inputs come from the seed and the documents table: row contents,
agents and tags, query texts, principals and forget targets. Rows that
the TTL sweep removes are written under a per-step scratch agent with a
one-minute expiry, so a sweep removes whole chains: removing a row from
the middle of a chain is, by design, a break for `verify_integrity`.
"""

from __future__ import annotations

import datetime as dt
import random
import time

DATA = "sf0.1"
INITIAL_ROWS = 2000
WRITE_ROWS = 40  # per step; the first SCRATCH_ROWS of them expire
SCRATCH_ROWS = 4
RECALLS = 2
BATCH_QUERIES = 16
FORGET_IDS = 5
K = 10
QUERY_TOKENS = 4
T0 = dt.datetime(2024, 1, 1, 12, 0, 0)

ROW_SCHEMA = (
    "id string, agent_id string, content string, memory_type string, "
    "scope string, importance float, tags array<string>, "
    "created_at timestamp, expires_at timestamp"
)


class Inputs:
    """Seeded generator of everything the engine receives."""

    def __init__(self, seed: int, docs: list[tuple]):
        self.rng = random.Random(seed)
        self.docs = docs[:]
        self.rng.shuffle(self.docs)
        self.sources = sorted({d[3] for d in docs})
        self.next_doc = 0
        self.minute = 0  # logical clock: every new row is one minute later

    def now(self) -> dt.datetime:
        return T0 + dt.timedelta(minutes=self.minute)

    def _doc(self):
        d = self.docs[self.next_doc % len(self.docs)]
        self.next_doc += 1
        return d

    def rows(self, n: int, scratch_agent: str | None = None) -> list[tuple]:
        out = []
        for i in range(n):
            _, text, lang, source = self._doc()
            self.minute += 1
            created = self.now()
            expires = None
            agent = source
            if scratch_agent is not None and i < SCRATCH_ROWS:
                agent = scratch_agent
                expires = created + dt.timedelta(minutes=1)
            out.append(
                (
                    f"m{self.next_doc}",
                    agent,
                    text,
                    self.rng.choice(("episodic", "semantic", "procedural")),
                    self.rng.choice(("private", "private", "shared", "public")),
                    round(self.rng.random(), 3),
                    [lang],
                    created,
                    expires,
                )
            )
        return out

    def query(self) -> str:
        words = self._doc()[1].split()
        return " ".join(self.rng.sample(words, min(QUERY_TOKENS, len(words))))

    def principal(self) -> str:
        return self.rng.choice(self.sources)


def load_docs(path: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        return con.sql(
            "SELECT doc_id, text, lang, source FROM read_parquet(?) ORDER BY doc_id",
            params=[path],
        ).fetchall()
    finally:
        con.close()


def check_recall(rows, k=K):
    ranks = [r["rank"] for r in rows]
    if len(rows) > k or ranks != list(range(1, len(rows) + 1)):
        return f"{len(rows)} rows, ranks {ranks}"
    return None


def check_batch(rows, k=K):
    by_q: dict[str, list[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        if len(ranks) > k or sorted(ranks) != list(range(1, len(ranks) + 1)):
            return f"query {q}: ranks {sorted(ranks)}"
    return None


def breaks(rows) -> str | None:
    bad = [(r["agent_id"], r["n_breaks"]) for r in rows if r["n_breaks"]]
    return f"chain breaks {bad}" if bad else None


def accept(_):
    """Writes and lifecycle verbs are checked by the step's closing
    `verify_integrity` and by the run's live-row accounting."""
    return None


def collect(df):
    return df.collect(), df


def materialized(engine):
    # localCheckpoint executes the memories frame's own QueryExecution
    return engine.materialized(), engine.memories


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from mnemo_spark.engine import MnemoSparkEngine
    from mnemo_spark.io import local_frame

    from perfbench.harness import DATA_DIR

    spark = ctx.spark
    path = f"{DATA_DIR}/{ctx.data or DATA}/documents.parquet"
    ctx.detail["data"] = path
    t0 = time.perf_counter()
    inputs = Inputs(ctx.seed, load_docs(path))
    initial = inputs.rows(INITIAL_ROWS)
    state = {
        "engine": None,
        "live": [r[0] for r in initial],  # forgettable ids, write order
        "scratch": 0,  # scratch rows written since the last sweep
        "written": 0,
        "forgotten": 0,
        "expired": 0,
    }
    with ctx.tracer.span("initial_write", "setup"):
        state["engine"] = (
            MnemoSparkEngine(spark)
            .remember_batch(local_frame(spark, initial, ROW_SCHEMA))
            .materialized()
        )
    ctx.setup["store.initial_write_s"] = time.perf_counter() - t0

    def step(i: int) -> float:
        # inputs for the whole step are generated before its clock starts
        rows = inputs.rows(WRITE_ROWS, scratch_agent=f"scratch.s{i}")
        new_rows = local_frame(spark, rows, ROW_SCHEMA)
        recalls = [(inputs.query(), inputs.principal()) for _ in range(RECALLS)]
        batch = local_frame(
            spark,
            [(f"q{j}", inputs.query()) for j in range(BATCH_QUERIES)],
            "query_id string, query string",
        )
        batch_principal = inputs.principal()
        targets = inputs.rng.sample(state["live"], FORGET_IDS)
        now = inputs.now()

        def verb(group, name, build, action, check=accept):
            return ctx.run_op(group, name, build, action, check=check)

        t0 = time.perf_counter()
        with ctx.tracer.span(f"step{i}", "step", timed=True):
            op = verb(
                "write",
                "remember_batch",
                lambda: state["engine"].remember_batch(new_rows),
                materialized,
            )
            if op.ok:
                state["engine"] = op.value
                state["written"] += WRITE_ROWS
                state["scratch"] += SCRATCH_ROWS
                state["live"] += [r[0] for r in rows[SCRATCH_ROWS:]]
            for q, who in recalls:
                verb(
                    "recall",
                    "recall",
                    lambda q=q, who=who: state["engine"].recall(q, who, k=K, now=now),
                    collect,
                    check_recall,
                )
            verb(
                "recall_batch",
                "recall_batch",
                lambda: state["engine"].recall_batch(batch, batch_principal, k=K, now=now),
                collect,
                check_batch,
            )
            op = verb(
                "forget",
                "forget",
                lambda: state["engine"].forget(targets, strategy="soft", now=now),
                materialized,
            )
            if op.ok:
                state["engine"] = op.value
                state["forgotten"] += len(targets)
                gone = set(targets)
                state["live"] = [x for x in state["live"] if x not in gone]
            op = verb(
                "ttl_sweep",
                "run_ttl_sweep",
                lambda: state["engine"].run_ttl_sweep(now=now),
                materialized,
            )
            if op.ok:
                state["engine"] = op.value
                state["expired"] += state["scratch"]
                state["scratch"] = 0
            verb(
                "verify",
                "verify_integrity",
                lambda: state["engine"].verify_integrity(),
                collect,
                breaks,
            )
        return time.perf_counter() - t0

    with state["engine"].serving():
        for i in ctx.timed_loop():
            ctx.iterations.append(step(i))
        ctx.storage_snapshot()

    # -- output checks, outside timing -----------------------------------
    # each step ends with verify_integrity, so the final chain state is
    # already checked; what remains is the row accounting
    live = state["engine"].memories.filter(F.col("deleted_at").isNull()).count()
    expected = INITIAL_ROWS + state["written"] - state["forgotten"] - state["expired"]
    ctx.checks["store_rows"] = (
        None if live == expected else f"live rows {live} != expected {expected}"
    )
    ctx.detail["store"] = {k: v for k, v in state.items() if k not in ("engine", "live")}
    ctx.detail["store"]["live_rows"] = live
