"""Corpus deduplication — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline operators (BASELINE.json north star) plus the
reference's own near-duplicate detection (J5, query/conflict.rs;
semantic dedup stage of the reflection pass, reflection.rs:147-301).

Cross-engine hash primitive: md5 hex strings. MinHash uses the
lexicographic minimum of md5(shingle ‖ '#' ‖ seed) — a valid min-wise
permutation family that is bit-identical in Spark and DuckDB (no
integer-conversion portability hazards).

Scale notes (100 TB):
- exact: one groupBy(md5) shuffle; md5 keys distribute uniformly.
- minhash: explode(shingles) → groupBy(doc, seed) min — map-side
  combinable, one shuffle on doc_id; band keys then bucket-join
  candidate pairs (the LSH trick: only co-banded docs are compared,
  never the full cross product).
- simhash: explode(tokens) × bit positions → groupBy(doc) — same
  single-shuffle shape; near-dups collide on the signature key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mnemo_spark.functions.text import TOKEN_PATTERN, tokens

ROUND_DP = 6


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by content hash. → one row per group
    with >1 member: (content_md5, keep_id, dup_count, member_ids)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


_ML_STAGES: dict[tuple, tuple] = {}


def _ml_shingle_stages(text_col: str, shingle_k: int):
    """Memoized RegexTokenizer/NGram instances. Every ML Transformer
    instance mints a fresh uid that lands in the plan's canonical
    form, so two otherwise-identical shingle plans hash differently —
    which silently defeated `cached_persist` (each call re-materialized
    AND leaked a persisted copy). One shared instance per
    (text_col, k) keeps the semantic hash stable."""
    key = (text_col, shingle_k)
    if key not in _ML_STAGES:
        from pyspark.ml.feature import NGram, RegexTokenizer

        tk = RegexTokenizer(
            inputCol=text_col, outputCol="_toks", pattern=TOKEN_PATTERN,
            gaps=False, toLowercase=True,
        )
        ng = NGram(n=shingle_k, inputCol="_toks", outputCol="_shs")
        _ML_STAGES[key] = (tk, ng)
    return _ML_STAGES[key]


def _shingle_rows(
    docs: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, shingle) distinct rows.

    Tokenize + shingle via Spark ML RegexTokenizer + NGram — both run
    in the JVM. (The equivalent higher-order-function expression,
    transform + element_at per position, is INTERPRETED and was ~7x
    slower end-to-end on the sf0.1 corpus.) Output is byte-identical:
    lowercased [a-z0-9]+ tokens, space-joined k-grams.
    """
    from mnemo_spark.cache import cached_persist

    tk, ng = _ml_shingle_stages(text_col, shingle_k)
    out = ng.transform(tk.transform(docs)).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct("_shs")).alias("_sh"),
    )
    # the dedup family (ngram-jaccard, minhash, cluster assignment)
    # all start from this frame — one materialization per corpus under
    # the bench cache (cluster-scale analog: a shingle table written
    # once per snapshot)
    return cached_persist(
        out,
        "shingles",
        id_col,
        text_col,
        shingle_k,
        key_plan=docs.select(id_col, text_col),
    )


def _minhash_wide(
    docs: DataFrame, num_hashes: int, shingle_k: int, id_col: str, text_col: str
) -> DataFrame:
    """Wide MinHash signature: (_id, _m0.._m{n-1}), values in [0, P).

    Shape chosen for scale: explode shingles ONCE (tokenization runs
    once per doc), md5 each shingle ONCE into a 32-bit base hash h0,
    then num_hashes universal-hash permutations min((A·h0+B) mod P)
    as integer arithmetic in a single codegen'd hash aggregation —
    partial min is map-side combined, so the only shuffled rows are
    |docs| pre-combined signatures. (The previous form md5'd every
    (shingle, seed) pair — num_hashes× the hashing work of this one;
    a pure-projection variant with array_min(transform(...)) is
    10-100x slower still: higher-order functions are interpreted, and
    projection collapse re-evaluates the shingle subtree per seed.)
    """
    from mnemo_spark import params as P

    sh = _shingle_rows(docs, id_col, text_col, shingle_k).withColumn(
        "_h0", F.conv(F.substring(F.md5("_sh"), 1, 8), 16, 10).cast("long")
    )
    aggs = [
        F.min((F.lit(a) * F.col("_h0") + F.lit(b)) % F.lit(P.MINHASH_PRIME)).alias(
            f"_m{s}"
        )
        for s, (a, b) in enumerate(P.MINHASH_COEFFS[:num_hashes])
    ]
    return sh.groupBy("_id").agg(*aggs)


def band_keys(
    docs: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH band keys per doc: → (_id, band, band_key). rows-per-band
    r = num_hashes/bands. Band keys are computed inside the same
    projection as the signature — at cluster scale this frame IS the
    persisted signature table a rolling dedup maintains per snapshot.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    wide = _minhash_wide(docs, num_hashes, shingle_k, id_col, text_col)
    return wide.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.sort_array(
                                    F.array(
                                        *[F.col(f"_m{b * r + i}") for i in range(r)]
                                    )
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def pinned_band_table(
    docs: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The corpus LSH band table, pinned pre-partitioned on the join
    key in serving sessions (r13, the ngram_capped_sh pattern, guide
    §2.4) — the in-memory form of the stored signature table the
    100-TB path reads. ONE cache key per (corpus, params), so every
    band-join surface (pair self-join, incremental new-vs-corpus)
    shares one materialization. One-shot callers get the lazy plan."""
    band = band_keys(docs, num_hashes, bands, shingle_k, id_col, text_col)
    from mnemo_spark.cache import cached_persist, serving_enabled

    if serving_enabled():
        n_part = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        band = cached_persist(
            band.repartition(n_part, "band", "band_key"),
            "minhash_band_keys",
            num_hashes,
            bands,
            shingle_k,
        )
    return band


def minhash_band_pairs(
    docs: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band key. → (id_a, id_b,
    n_bands) with id_a < id_b.

    The ONLY shuffle is the equi-join on (band, band_key); both
    self-join sides read the pinned band table (one materialization
    of the shingle→minhash pipeline, co-partitioned on the key).
    """
    band = pinned_band_table(
        docs, num_hashes, bands, shingle_k, id_col, text_col
    )
    a = band.select(F.col("_id").alias("id_a"), "band", "band_key")
    b = band.select(F.col("_id").alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )


def incremental_band_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without comparing
    the corpus to itself — the rolling-crawl path at 100 TB: the
    corpus side is (at scale) a precomputed signature table read from
    storage, the new batch is small, and the only work that scales
    with the corpus is one equi-join on (band, band_key).

    → one row per new doc that LSH-collides with the corpus:
    (doc_id, n_band_hits, n_corpus_candidates).
    """
    nb = band_keys(new_docs, num_hashes, bands, shingle_k, id_col, text_col)
    cb = band_keys(corpus, num_hashes, bands, shingle_k, id_col, text_col)
    return incremental_band_hits(nb, cb, id_col)


def incremental_band_hits(
    new_bands: DataFrame, corpus_bands: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The join+report half of `incremental_band_dedup`, for callers
    that already hold band tables — e.g. both sides sliced from ONE
    pinned corpus band table (r13: the previous shape ran the
    shingle→minhash pipeline once per side even when new ∪ corpus was
    a single source; per-doc signatures commute with the id split, so
    slicing one table is byte-identical)."""
    hits = new_bands.join(
        corpus_bands.withColumnRenamed("_id", "_corpus_id"), ["band", "band_key"]
    )
    return hits.groupBy("_id").agg(
        F.count("*").alias("n_band_hits"),
        F.countDistinct("_corpus_id").alias("n_corpus_candidates"),
    ).select(F.col("_id").alias(id_col), "n_band_hits", "n_corpus_candidates")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for pairs sharing ≥1 shingle.

    Inverted-index self-join on shingle (never a cross product):
    |A∩B| from the join, |A|,|B| from per-doc distinct counts.
    → (id_a, id_b, jaccard ≥ threshold).

    max_df: document-frequency cap — shingles appearing in more than
    max_df docs (boilerplate) are dropped from the shingle universe
    (both intersections AND set sizes, so Jaccard stays a true Jaccard
    over the capped universe). Without a cap one hot shingle produces
    O(df^2) join rows; standard near-dup pipelines always cap.
    """
    sh = _shingle_rows(docs, id_col, text_col, shingle_k)
    if max_df is not None:
        keep = (
            sh.groupBy("_sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_sh")
        )
        # shuffle on _sh, co-partitioned with the inverted-index join
        sh = sh.join(keep, "_sh", "left_semi")
    # the self-join runs on a 60-bit md5-prefix key, not the shingle
    # string: shuffling/probing fixed-width longs measured ~40% faster
    # than ~20-char strings at sf0.1, and the win grows with shuffle
    # volume. 60 bits keeps any collision astronomically unlikely AND
    # deterministic — the oracle joins on the identical key.
    sh = sh.withColumn(
        "_hh", F.conv(F.substring(F.md5("_sh"), 1, 15), 16, 10).cast("long")
    ).drop("_sh")
    # sh feeds sizes + BOTH sides of the self-join (+ the df-cap):
    # under the bench cache the tokenize→shingle→cap pipeline
    # materializes once per corpus instead of 3-4x per query (at
    # cluster scale: the shingle table is written once per snapshot).
    # It persists PRE-PARTITIONED on the join key, so the self-join
    # reads two co-partitioned sides and needs no exchange — the
    # in-memory form of writing the shingle table bucketed by hash.
    from mnemo_spark.cache import cached_persist

    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    sh = cached_persist(
        sh.repartition(n_part, "_hh"), "ngram_capped_sh", shingle_k, max_df
    )
    # per-doc set sizes are one row per document — broadcast them into
    # the pair frame instead of shuffling the pair frame twice
    sizes = cached_persist(
        sh.groupBy("_id").agg(F.count("*").alias("_sz")).coalesce(1),
        "ngram_sizes",
        shingle_k,
        max_df,
    )
    inter = (
        sh.select(F.col("_id").alias("id_a"), "_hh")
        .join(sh.select(F.col("_id").alias("id_b"), "_hh"), "_hh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sz_a = sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_sz", "_sza")
    sz_b = sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_sz", "_szb")
    return (
        inter.join(F.broadcast(sz_a), "id_a")
        .join(F.broadcast(sz_b), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
                ROUND_DP,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 16  # one bit per md5 hex digit's high bit

# hot-bucket threshold for the grid-salted band self-join (r14): salt
# engages when ONE bucket's pair count (max_bucket^2) exceeds this —
# ~16M pairs is roughly a second of one-core popcount+filter work, the
# point where a single unsplittable join key dominates the stage wall.
# Env-overridable for cluster-measured values (same convention as
# MNEMO_CHAIN_EPOCH_CROSSOVER).
import os as _os

_SALT_PAIRS = int(_os.environ.get("MNEMO_SIMHASH_SALT_PAIRS", str(16_000_000)))


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash over tokens (tf-weighted via explode).

    Bit p of token t = high bit of hex digit p of md5(t) (digit ≥ '8').
    signature bit p = 1 iff Σ_tokens (±1) > 0. → (id, simhash) as a
    bit-string; near-dups share long signature prefixes/equality.
    """
    tok = docs.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_t"))
    tok = tok.withColumn("_md5", F.md5("_t"))
    bits = tok.select(
        "_id",
        F.explode(F.sequence(F.lit(1), F.lit(SIMHASH_BITS))).alias("p"),
        "_md5",
    ).withColumn(
        "_contrib",
        F.when(F.substring(F.col("_md5"), F.col("p"), 1).isin(*"89abcdef"), 1).otherwise(-1),
    )
    agg = bits.groupBy("_id", "p").agg(F.sum("_contrib").alias("_s"))
    return (
        agg.withColumn("_bit", F.when(F.col("_s") > 0, F.lit("1")).otherwise(F.lit("0")))
        .groupBy("_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("p", "_bit"))),
                    lambda s: s["_bit"],
                ),
            ).alias("simhash")
        )
        .select(F.col("_id").alias(id_col), "simhash")
    )


def simhash_int(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Integer form of `simhash` (bit p of the string form = bit
    16−p of the int): → (id, sim_int). The int form keeps banding
    and hamming in codegen'd bit arithmetic — shift/mask for band
    extraction, bit_count(xor) for distance — instead of per-char
    string compares."""
    tok = docs.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_t"))
    tok = tok.withColumn("_md5", F.md5("_t"))
    bits = tok.select(
        "_id",
        F.explode(F.sequence(F.lit(1), F.lit(SIMHASH_BITS))).alias("p"),
        "_md5",
    ).withColumn(
        "_contrib",
        F.when(F.substring(F.col("_md5"), F.col("p"), 1).isin(*"89abcdef"), 1).otherwise(-1),
    )
    agg = bits.groupBy("_id", "p").agg(F.sum("_contrib").alias("_s"))
    return (
        agg.groupBy("_id")
        .agg(
            F.sum(
                # shiftleft's python wrapper takes only a literal shift
                # count — the SQL form accepts an expression
                F.when(
                    F.col("_s") > 0,
                    F.expr(f"CAST(shiftleft(1, {SIMHASH_BITS} - p) AS BIGINT)"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("sim_int")
        )
        .select(F.col("_id").alias(id_col), "sim_int")
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 1,
    bands: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs via hamming-band bucketing — never
    all-pairs: a pair with hamming ≤ bands−1 must agree on at least
    one of `bands` signature slices (pigeonhole), so candidates come
    from an equi-join on (band_no, band_bits) and only candidates pay
    the exact hamming check. Defaults (2 bands × 8 bits over the
    16-bit signature) are COMPLETE for max_hamming ≤ 1; a 64-bit
    production signature uses 4×16 bands for hamming ≤ 3 with the
    identical plan shape. → (id_a, id_b, hamming)."""
    if SIMHASH_BITS % bands:
        raise ValueError(f"bands={bands} must divide {SIMHASH_BITS}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding with {bands} bands only guarantees pairs up to "
            f"hamming {bands - 1}; raise bands for max_hamming={max_hamming}"
        )
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    sig = simhash_int(docs, id_col, text_col)
    banded = sig.select(
        F.col(id_col).alias("_id"),
        "sim_int",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_b"),
    ).withColumn("_band", F.expr(f"shiftright(sim_int, _b * {width}) & {mask}"))
    # same shape as minhash_band_pairs: the aliased self-join sides
    # recompute the tokenize→simhash subtree twice — pin the banded
    # signature table pre-partitioned on the join key in serving
    # sessions (r13, guide §2.4)
    from mnemo_spark.cache import cached_persist, serving_enabled

    if serving_enabled():
        n_part = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        banded = cached_persist(
            banded.repartition(n_part, "_b", "_band"),
            "simhash_banded",
            max_hamming,
            bands,
        )
    # grid-salted self-join, engaged ADAPTIVELY (r14, guide §2.5):
    # near-dup corpora CLUMP — every member of a duplicate cluster
    # lands in the same (band, bits) bucket, and a single hot bucket
    # is one join key that neither hash partitioning nor AQE
    # skew-splitting can divide (measured on the 10x sf1x corpus: max
    # bucket 9,051 docs = ~82M candidate pairs evaluated in ONE task;
    # the query ran 2.5 s FLAT across 8 vs 32 cores). When the
    # hottest bucket's pair count crosses _SALT_PAIRS, decompose each
    # bucket into an s x s grid on a deterministic id hash: side A
    # replicates each row to cells (g(id), j) for all j, side B to
    # (i, g(id)), so every unordered pair meets at exactly ONE cell
    # and a hot bucket spreads over s^2 tasks; the probe side is then
    # physically repartitioned on the grid key (under the broadcast
    # plan there is no shuffle, so stream parallelism would otherwise
    # stay the pin's bucket layout). Below the threshold the grid
    # degenerates (salt=1) to the original zero-replication plan —
    # the sf0.1 corpus (max bucket 932 = 0.9M pairs) measured 2x
    # SLOWER under an unconditional salt, exactly the local-constant
    # trap the round rules exclude. g is xxhash64-derived
    # (deterministic under retries — not the rand() hazard).
    from mnemo_spark.cache import cached_value

    max_bucket = cached_value(
        lambda: (
            banded.groupBy("_b", "_band")
            .count()
            .agg(F.max("count"))
            .first()[0]
            or 0
        ),
        "simhash_max_bucket",
        max_hamming,
        bands,
        key_plan=banded,
    )
    salt = 8 if max_bucket * max_bucket > _SALT_PAIRS else 1
    if salt > 1:
        grid = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        a = banded.select(
            F.col("_id").alias("id_a"), F.col("sim_int").alias("_sa"),
            "_b", "_band",
            F.pmod(F.xxhash64("_id"), F.lit(salt)).alias("_s1"),
            grid.alias("_s2"),
        )
        b = banded.select(
            F.col("_id").alias("id_b"), F.col("sim_int").alias("_sb"),
            "_b", "_band",
            grid.alias("_s1"),
            F.pmod(F.xxhash64("_id"), F.lit(salt)).alias("_s2"),
        )
        n_part = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        a = a.repartition(n_part, "_b", "_band", "_s1", "_s2")
        join_keys = ["_b", "_band", "_s1", "_s2"]
    else:
        a = banded.select(
            F.col("_id").alias("id_a"), F.col("sim_int").alias("_sa"),
            "_b", "_band",
        )
        b = banded.select(
            F.col("_id").alias("id_b"), F.col("sim_int").alias("_sb"),
            "_b", "_band",
        )
        join_keys = ["_b", "_band"]
    cand = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sa", "_sb")
        .distinct()
    )
    # hamming = popcount of the xor — stays in codegen'd integer ops
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def fuzzy_match_pairs(
    docs: DataFrame,
    block_len: int = 16,
    probe_len: int = 60,
    max_dist: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Record-linkage fuzzy matching: blocking + edit distance.

    Candidates come ONLY from an equi-join on a blocking key (the
    normalized text prefix) — the classic linkage trade: a true match
    that differs inside the block prefix is missed, and in exchange
    the pair space collapses from O(n²) to Σ_block O(|block|²).
    Candidates then pay levenshtein (JVM builtin) on a bounded probe
    prefix. → (id_a, id_b, edit_dist)."""
    norm = F.lower(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.substring(norm, 1, block_len).alias("_block"),
        F.substring(norm, 1, probe_len).alias("_probe"),
    )
    # project-then-pin (r14, guide §2.3 'project before the exchange' +
    # §2.5): both join sides previously read the WIDE docs scan and
    # re-derived lower+substring per access — over the 1-split cached
    # documents table the whole Σ|block|² levenshtein bill ran on one
    # core (18.3 s noop at sf1x, FLAT across 8 vs 32 cores), and even
    # spread, the wide cached text made the pair stage 5.5x slower
    # than this narrow form (3.60 vs 0.65 s measured). The pinned
    # (id, block, probe) frame is the compact linkage table a 100 TB
    # deployment writes once per snapshot, bucketed on the blocking
    # key; outside serving it degrades to one keyed exchange.
    from mnemo_spark.cache import cached_persist

    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    base = cached_persist(
        base.repartition(n_part, "_block"),
        "fuzzy_base",
        block_len,
        probe_len,
    )
    a = base.select(
        F.col("_id").alias("id_a"), "_block", F.col("_probe").alias("_pa")
    )
    b = base.select(
        F.col("_id").alias("id_b"), "_block", F.col("_probe").alias("_pb")
    )
    # banded levenshtein (r14, guide §1.2 per-task work): the
    # three-arg threshold form computes only the |i-j| <= max_dist
    # diagonal band and early-exits past it, returning -1 for pairs
    # beyond the cutoff and the EXACT distance for pairs within it —
    # so `dist >= 0` is the old `dist <= max_dist` filter with ~4-7x
    # less DP work per candidate at probe_len=60/max_dist=8 (measured
    # with the sf1x corpus: the pair stage was ~28 us/pair full-matrix)
    return (
        a.join(b, "_block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("_pa", "_pb", max_dist))
        .filter(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )
