"""recall_batch — the batch-of-queries recall verb (SURVEY §6 "the
engine batches queries"; the reference serves one recall per request,
recall.rs:332, so the contract here is EQUIVALENCE: a batched query
returns row-for-row what its single-query twin returns, including the
permission-safe-ANN property of integration_test.rs:2130).

`recall` is recall_batch over a one-row query frame, so comparing the
two no longer checks anything on its own: the EXPECTED_* rows below
were recorded from the former, separately implemented single-query
`recall` on this fixture and pin both verbs to its output."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from mnemo_spark.engine import MnemoSparkEngine

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
NOW = T0 + dt.timedelta(hours=3)

_ROW_SCHEMA = (
    "id string, agent_id string, content string, memory_type string, "
    "scope string, importance float, tags array<string>, created_at timestamp, "
    "metadata string"
)

_PROV = json.dumps({"reasoning_provenance": {"authorship": "model_authored"}})
_FORGED = json.dumps({"reasoning_provenance": {"authorship": "injected"}})


@pytest.fixture(scope="module")
def engine(spark):
    rows = spark.createDataFrame(
        [
            ("m1", "alice", "the capital of france is paris", "semantic",
             "private", 0.9, ["geo"], T0, _PROV),
            ("m2", "alice", "paris has a big tower", "episodic", "private",
             0.5, ["geo"], T0 + dt.timedelta(hours=1), _FORGED),
            ("m3", "alice", "spark joins shuffle on keys", "semantic",
             "private", 0.8, ["code"], T0 + dt.timedelta(hours=2), _PROV),
            ("m4", "bob", "publicly known spark fact", "semantic", "public",
             0.6, ["code"], T0 + dt.timedelta(minutes=30), _PROV),
            ("m5", "bob", "bob private paris note", "semantic", "private",
             0.4, [], T0, None),
            ("m6", "alice", "window functions rank rows", "semantic",
             "private", 0.7, ["code"], T0 + dt.timedelta(hours=1), None),
        ],
        _ROW_SCHEMA,
    )
    # materialized once (r14): all tests read this store; truncating
    # the write-path lineage keeps each recall action O(the recall)
    return MnemoSparkEngine(spark).remember_batch(rows).materialized()


def _qdf(spark, queries):
    return spark.createDataFrame(
        [(f"q{i}", q) for i, q in enumerate(queries)],
        "query_id string, query string",
    )


def _rows(df, drop=("query_id",)):
    cols = [c for c in df.columns if c not in drop]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


STRATEGIES = ["exact", "lexical", "semantic", "hybrid"]

# sorted (id, agent_id, content, score, rank) rows; see the module
# docstring for where they come from
_M1 = ("m1", "alice", "the capital of france is paris")
_M2 = ("m2", "alice", "paris has a big tower")
_M3 = ("m3", "alice", "spark joins shuffle on keys")
_M4 = ("m4", "bob", "publicly known spark fact")
_M6 = ("m6", "alice", "window functions rank rows")
_HYBRID = [
    (*_M1, 0.309821, 2),
    (*_M2, 0.321573, 1),
    (*_M3, 0.214076, 3),
    (*_M4, 0.205882, 4),
    (*_M6, 0.201732, 5),
]
EXPECTED = {
    "exact": [(*_M2, 1.0, 1)],
    "lexical": [(*_M1, 0.79424, 2), (*_M2, 2.223856, 1)],
    "semantic": [
        (*_M1, 0.25, 2),
        (*_M2, 0.632456, 1),
        (*_M3, 0.0, 3),
        (*_M4, 0.0, 4),
        (*_M6, 0.0, 5),
    ],
    "hybrid": _HYBRID,
}
EXPECTED_GRAPH = {
    "paris tower": [
        (*_M1, 0.063508, 1),
        (*_M2, 0.063508, 2),
        (*_M3, 0.060606, 3),
        (*_M4, 0.058824, 4),
        (*_M6, 0.057143, 5),
    ],
    "spark join window": [
        (*_M1, 0.06167, 1),
        (*_M2, 0.059821, 4),
        (*_M3, 0.060606, 3),
        (*_M4, 0.06167, 2),
        (*_M6, 0.059821, 5),
    ],
}
EXPECTED_KNOBS = [(*_M1, 0.3125, 1), (*_M2, 0.064516, 2)]


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_single_query_batch_equals_recall(engine, strategy):
    """recall_batch(1 query) ≡ recall(query) — same rows, scores,
    ranks — for every strategy."""
    q = "paris has a big tower" if strategy == "exact" else "paris tower"
    single = _rows(engine.recall(q, "alice", strategy=strategy, now=NOW),
                   drop=())
    batch = _rows(
        engine.recall_batch(
            _qdf(engine.spark, [q]), "alice", strategy=strategy, now=NOW
        )
    )
    assert batch == single
    assert single == EXPECTED[strategy]


def test_multi_query_batch_equals_per_query_recall(engine):
    """Each query's slice of the batch result is exactly its
    single-query recall — queries cannot interfere."""
    queries = ["paris tower", "spark join window", "rank rows"]
    out = engine.recall_batch(
        _qdf(engine.spark, queries), "alice", strategy="hybrid", now=NOW
    )
    for i, q in enumerate(queries):
        got = _rows(out.filter(F.col("query_id") == f"q{i}"))
        want = _rows(engine.recall(q, "alice", strategy="hybrid", now=NOW),
                     drop=())
        assert got == want, q


def test_batch_policy_knobs_match_recall(engine):
    """domain_scope + reasoning_trust(down_weight) compose identically
    in the batch verb (the P3/P4 policy surface is shared code)."""
    kw = dict(
        strategy="hybrid",
        now=NOW,
        domain_scope={"tags": ["geo"]},
        reasoning_trust={"action": "down_weight", "down_weight_factor": 0.2},
    )
    single = _rows(engine.recall("paris tower", "alice", **kw), drop=())
    batch = _rows(
        engine.recall_batch(_qdf(engine.spark, ["paris tower"]), "alice", **kw)
    )
    assert batch == single
    assert single == EXPECTED_KNOBS
    # the forged-provenance m2 was down-weighted below the trusted m1
    ids = [r[0] for r in sorted(batch, key=lambda r: r[-1])]
    assert ids.index("m1") < ids.index("m2")


def test_batch_is_permission_safe(engine):
    """integration_test.rs:2130: visibility filters run BEFORE scoring
    for every query in the batch — bob never sees alice's private rows
    no matter how well they score."""
    out = engine.recall_batch(
        _qdf(engine.spark, ["paris tower", "spark join"]),
        "bob",
        strategy="lexical",
        now=NOW,
    ).collect()
    assert out, "bob should still hit his own + public rows"
    assert all(r["agent_id"] == "bob" for r in out)


def test_batch_lane_limit_overfetch(engine):
    """lane_limit (the reference's limit*3 over-fetch, recall.rs:397)
    keeps per-query output shape: ranks 1..k, k rows max per query."""
    out = engine.recall_batch(
        _qdf(engine.spark, ["paris tower", "spark join"]),
        "alice",
        strategy="hybrid",
        k=2,
        lane_limit=3,
        now=NOW,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= 2


def _edges(spark):
    # memory-graph relations: m1-m2 linked (both paris), m3-m6 linked
    # (both code), m4 reachable only from m3, m5 dangling private
    return spark.createDataFrame(
        [("m1", "m2"), ("m3", "m6"), ("m6", "m4"), ("m5", "m2")],
        "src_id string, dst_id string",
    )


def test_batch_graph_requires_edges(engine):
    with pytest.raises(ValueError, match="edges"):
        engine.recall_batch(
            _qdf(engine.spark, ["x"]), "alice", strategy="graph"
        ).collect()


def test_single_query_batch_graph_equals_recall(engine):
    """VERDICT r8 #2: batch(1 graph query) ≡ recall(strategy='graph')
    — the last strategy asymmetry between the verbs, closed."""
    e = _edges(engine.spark)
    for q in ("paris tower", "spark join window"):
        single = _rows(
            engine.recall(q, "alice", strategy="graph", edges=e, now=NOW),
            drop=(),
        )
        batch = _rows(
            engine.recall_batch(
                _qdf(engine.spark, [q]), "alice", strategy="graph",
                edges=e, now=NOW,
            )
        )
        assert batch == single, q
        assert single == EXPECTED_GRAPH[q], q


def test_multi_query_batch_graph_equals_per_query(engine):
    """Graph expansion batches without cross-query interference, and
    stays permission-safe: an edge into an invisible memory never
    surfaces it (expand semi-joins the filtered corpus per hop)."""
    e = _edges(engine.spark)
    queries = ["paris tower", "rank rows"]
    out = engine.recall_batch(
        _qdf(engine.spark, queries), "alice", strategy="graph",
        edges=e, now=NOW,
    )
    for i, q in enumerate(queries):
        got = _rows(out.filter(F.col("query_id") == f"q{i}"))
        want = _rows(
            engine.recall(q, "alice", strategy="graph", edges=e, now=NOW),
            drop=(),
        )
        assert got == want, q
    # permission safety: bob's batch never surfaces alice's private
    # m1/m2/m3/m6 even though edges point at them
    bout = engine.recall_batch(
        _qdf(engine.spark, ["paris", "spark"]), "bob", strategy="graph",
        edges=e, now=NOW,
    ).collect()
    assert bout and all(r["agent_id"] == "bob" for r in bout)


def test_batch_full_lane_optin_matches_recall(engine):
    """lane_limit=None (full-lane fusion, the pre-r9 default) stays
    available and the batch≡single equivalence holds there too."""
    single = _rows(
        engine.recall("paris tower", "alice", strategy="hybrid",
                      lane_limit=None, now=NOW),
        drop=(),
    )
    batch = _rows(
        engine.recall_batch(
            _qdf(engine.spark, ["paris tower"]), "alice",
            strategy="hybrid", lane_limit=None, now=NOW,
        )
    )
    assert batch == single
    assert single == _HYBRID


def test_lexical_splits_query_on_unicode_whitespace(engine):
    """Query terms split on Unicode whitespace, as Python's
    str.split() does: a no-break space separates terms like a plain
    space in both verbs (Java's plain \\s would keep one term)."""
    q = "paris\u00a0tower"
    single = _rows(engine.recall(q, "alice", strategy="lexical", now=NOW),
                   drop=())
    batch = _rows(
        engine.recall_batch(
            _qdf(engine.spark, [q]), "alice", strategy="lexical", now=NOW
        )
    )
    assert single == batch == EXPECTED["lexical"]


@pytest.mark.parametrize("strategy", STRATEGIES + ["graph"])
def test_unknown_ann_mode_refused_before_any_job(engine, strategy):
    """A typo'd ann mode is refused for EVERY strategy — also those
    with no dense lane — before any Spark job runs."""
    spark = engine.spark
    sc = spark.sparkContext
    group = f"ann-validation-{strategy}"
    kw = dict(strategy=strategy, edges=_edges(spark), now=NOW, ann="bogus")
    sc.setJobGroup(group, "unknown ann mode")
    try:
        with pytest.raises(ValueError, match="unknown ann mode"):
            engine.recall("paris tower", "alice", **kw)
        with pytest.raises(ValueError, match="unknown ann mode"):
            engine.recall_batch(_qdf(spark, ["paris tower"]), "alice", **kw)
        # job-start events reach the status tracker through the
        # asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)


@pytest.fixture(scope="module")
def docs_engine(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .orderBy("doc_id")
        .limit(200)
        .select(
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("id"),
            F.col("source").alias("agent_id"),
            F.col("text").alias("content"),
            F.lit("semantic").alias("memory_type"),
            F.lit("public").alias("scope"),
            F.lit(0.5).cast("float").alias("importance"),
            F.array(F.col("lang")).alias("tags"),
            (F.lit(T0) + F.expr("make_interval(0, 0, 0, 0, 0, doc_id, 0)"))
            .alias("created_at"),
            F.lit(None).cast("string").alias("metadata"),
        )
    )
    return MnemoSparkEngine(spark).remember_batch(docs).materialized()


@pytest.mark.parametrize("strategy", ["semantic", "hybrid"])
def test_zero_token_query_leaves_batch_unchanged(docs_engine, strategy):
    """A zero-token query has a NULL query vector and scores no corpus
    row in the dense lane; adding it to a 16-query batch changes no row
    of the other 15 queries."""
    texts = [
        r["content"]
        for r in docs_engine.memories.orderBy("id").limit(15).collect()
    ]
    queries = [" ".join(t.split()[:4]) for t in texts]

    def run(qs):
        return _rows(
            docs_engine.recall_batch(
                _qdf(docs_engine.spark, qs), "src0", strategy=strategy,
                now=NOW,
            ),
            drop=(),
        )

    base = run(queries)
    with_zero = run(queries + ["!!! ???"])
    assert base, "the 15 plain queries must hit"
    zero = [r for r in with_zero if r[0] == "q15"]
    assert [r for r in with_zero if r[0] != "q15"] == base
    if strategy == "semantic":
        assert zero == []
    else:
        # no lexical or semantic term: recency alone ranks the corpus
        assert sorted(r[-1] for r in zero) == list(range(1, 11))
