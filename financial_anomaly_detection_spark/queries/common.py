"""Named query registry — the engine's public query corpus.

Every operator from SURVEY.md §2 is exercised by at least one named
query here. Each entry carries:

  * ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation
    (DataFrame API, declarative, no UDFs in the relational spine);
  * ``oracle`` — an equivalent ANSI-SQL string DuckDB runs on the same
    parquet tables (the driver's differential-correctness gate), or
    ``None`` for genuinely non-SQL-expressible ops (ML scores, LSH),
    which get a rows-only check.

Hash-match discipline (the driver compares order-insensitive value
hashes, so floats must be *bit-identical*, not merely close):

  * Money-like sums are computed in DECIMAL on both engines (exact),
    then cast to double — the nearest-double of the same rational is
    identical bits. These need no rounding at all.
  * Averages/ratios divide a bit-identical double by a count — the
    quotient is bit-identical — then apply ``sround`` (floor-based
    half-up rounding). Plain ROUND is banned: Spark rounds the decimal
    string HALF_UP while DuckDB rounds the raw double, and 2-decimal
    money data lands quotients exactly on boundaries constantly.
  * Integer-ish outputs are CAST to BIGINT on both sides; timestamps
    are emitted as formatted strings.

The events table is the engine's transaction-stream analog
(user_id ~ customer_id, event_type ~ channel, value ~ amount,
props ~ JSON payload). Rule thresholds are scaled to the events value
distribution (median ≈ 35, max ≈ 490) — they are env-tunable in the
reference too (python_scoring/app.py:22-24).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.scoring import (
    clip01,
    deviation_ratio,
    fuse_scores_orchestrator,
    high_amount_override,
    risk_level,
    rule_flags,
    rule_score,
)
from ..functions.mathfn import det_exp_col, det_exp_sql, det_ln_col, det_ln_sql
from ..functions.timefn import dow_pandas, lookback_filter
from ..operators.prefix import ordered_prefix_sum
from ..functions.vectorfn import cosine_similarity, dot, l2_norm
from ..sources.readers import load_table

# Deterministic replay anchor (W2): the reference uses NOW(); events
# span 2024-01-01..2024-01-30, so this anchor sees all of them in a
# 90-day lookback, and the 7-day variant exercises the window bounds.
ANCHOR = "2024-02-01 00:00:00"
TIGHT_ANCHOR = "2024-01-20 00:00:00"

# Rule constants scaled to the events value distribution.
EV_LARGE_AMOUNT = 150.0
EV_HIGH_RISK_AMOUNT = 300.0

# event_type -> channel / props.k -> location mappings so the
# reference's rule semantics (card + unusual location) are exercisable
# on the events table. Purely deterministic projections.
_CHANNEL_CASE = (
    "CASE event_type WHEN 'purchase' THEN 'card' WHEN 'click' THEN 'pos' "
    "WHEN 'view' THEN 'mobile_money' ELSE 'bank_transfer' END"
)
_LOCATIONS = ["Harare", "Bulawayo", "Mutare", "Victoria Falls", "Marondera", "Gweru"]


# --- bit-exact float discipline helpers -----------------------------------


def sround(col: Column, n: int) -> Column:
    """Stable half-up rounding: floor(x * 10^n + 0.5) / 10^n.

    Pure double arithmetic, so it is bit-identical across engines as
    long as the *input* is bit-identical (decimal-exact sums divided by
    counts). Spark's own ROUND is not: it rounds the shortest decimal
    repr HALF_UP, DuckDB rounds the raw double, and they disagree on
    every exact boundary.
    """
    p = float(10**n)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def sround_sql(expr: str, n: int) -> str:
    p = float(10**n)
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def dec(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def money_avg(col: Column | str, n: int = 4) -> Column:
    """Exact decimal sum -> double -> divide by count -> stable round."""
    return sround(F.sum(dec(col)).cast("double") / F.count(F.lit(1)), n)


def money_avg_sql(col: str, n: int = 4) -> str:
    return sround_sql(
        f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)", n
    )


def _revenue_cents() -> Column:
    """extendedprice * (1 - discount) in exact integer 1e-4 dollars."""
    price = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    return price * (F.lit(100) - disc)


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str
    tags: list[str] = field(default_factory=list)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], description: str, tags: list[str] | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, description=description, tags=tags or [])
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query once: oracle-backed entries first, then the
    rows-only ones, each group in registration order, so any prefix
    holds hash-checkable queries before rows-only ones."""
    ordered = sorted(REGISTRY.items(), key=lambda item: item[1].oracle is None)
    return {name: spec.fn for name, spec in ordered}


def oracle_sql() -> dict[str, str]:
    """The oracle-backed entries' DuckDB SQL, in ``queries()`` order."""
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


# Exact (unrounded) profile CTE shared by the join queries: decimal sum
# cast to double divided by count — bit-identical across engines.
_CUST_PROFILE_CTE = f"""
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS cust_avg,
               COUNT(*) / 90.0 AS cust_freq
        FROM events
        WHERE ts >= TIMESTAMP '{ANCHOR}' - INTERVAL 90 DAY
          AND ts <  TIMESTAMP '{ANCHOR}'
        GROUP BY user_id
"""


def _exact_profile(ev: DataFrame, key: str) -> DataFrame:
    """Anchored profile with a bit-exact avg (decimal sum / count)."""
    return (
        ev.filter(lookback_filter("ts", ANCHOR, 90))
        .groupBy(key)
        .agg(
            (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("cust_avg"),
            (F.count(F.lit(1)) / F.lit(90.0)).alias("cust_freq"),
        )
    )


# ---------------------------------------------------------------------------
# Relational coverage on the TPC-H-ish tables (joins, aggs, sorts, set ops)
# ---------------------------------------------------------------------------


# Exact integer-cents measures: ~3x faster than DECIMAL aggregation in
# the JVM hot loop while keeping bit-exact cross-engine parity. Sums of
# price_cents * (100-disc_pct) * (100+tax_pct) stay far below int64
# range at bench scale (~1e17 worst case vs 9.2e18 max).
_Q1_CENTS_SQL = {
    "qty": "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)",
    "price": "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
    "disc": "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)",
    "tax": "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)",
}


_DUCK_TOKENS = r"string_split_regex(trim(text), '\s+')"
_CPT = sround_sql(f"length(text) * 1.0 / length({_DUCK_TOKENS})", 4)


_AVG_TOKENS = sround_sql(f"CAST(SUM(length({_DUCK_TOKENS})) AS DOUBLE) / COUNT(*)", 4)


# ---------------------------------------------------------------------------
# Embeddings / similarity search (north-star extensions, §2.10)
# ---------------------------------------------------------------------------

# Double-precision dot product in DuckDB SQL: list_zip + lambda with
# explicit casts. Sequential left-to-right accumulation matches Spark's
# F.aggregate bit-for-bit (verified).
_DUCK_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)


_REV_CENTS_SQL = (
    "CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))"
)


# HLL layout: 64 registers (top 6 hash bits), rho over the low 26 bits.
_HLL_M, _HLL_SUFFIX = 64, 1 << 26


_KMV_K = 32


_DUCK_BPE = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')"
_DUCK_PUNCT = "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))"


def _vec_scalars(col: str, prefix: str) -> list[Column]:
    """Project an array<float> column to canonicalizer-safe scalars.

    The driver canonicalizes results through pandas ``sort_values``,
    which cannot order ndarray cells (CORRECTNESS_r07: ``TypeError:
    unhashable type: 'numpy.ndarray'``). Driver-facing multimodal
    queries therefore emit a quantized md5 of the vector plus element
    aggregates; the array form stays in the operator API
    (operators/multimodal.py IMAGE/VIDEO_FEATURES_SCHEMA).
    """
    quantized = F.transform(
        F.col(col), lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )
    dim = F.size(F.col(col))
    return [
        F.md5(F.concat_ws(",", quantized)).alias(f"{prefix}_md5"),
        dim.cast("long").alias(f"{prefix}_dim"),
        sround(F.array_min(F.col(col)).cast("double"), 6).alias(f"{prefix}_min"),
        sround(F.array_max(F.col(col)).cast("double"), 6).alias(f"{prefix}_max"),
        sround(
            F.aggregate(
                F.col(col), F.lit(0.0), lambda acc, x: acc + x.cast("double")
            )
            / F.greatest(dim, F.lit(1)).cast("double"),
            6,
        ).alias(f"{prefix}_mean"),
    ]


def _image_features_flat(feats: DataFrame) -> DataFrame:
    """Driver-facing projection of IMAGE_FEATURES_SCHEMA (array-free)."""
    return feats.select(
        F.col("doc_id").cast("long"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        F.col("channels").cast("int"),
        sround(F.col("mean_intensity"), 6).alias("mean_intensity"),
        *_vec_scalars("feature_vec", "fvec"),
        F.col("decoder"),
    )


def _video_features_flat(feats: DataFrame) -> DataFrame:
    """Driver-facing projection of VIDEO_FEATURES_SCHEMA (array-free)."""
    return feats.select(
        F.col("doc_id").cast("long"),
        F.col("n_frames").cast("int"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        sround(F.col("fps"), 6).alias("fps"),
        sround(F.col("duration_sec"), 6).alias("duration_sec"),
        sround(F.col("mean_intensity"), 6).alias("mean_intensity"),
        sround(F.col("motion_score"), 6).alias("motion_score"),
        *_vec_scalars("sampled_means", "frames"),
        F.col("decoder"),
    )


# One-slot cache for the pretrained bench twin: (appId, sf_dir) -> fitted
# ensemble. bench.py invokes the query once un-measured so the fit lands
# outside the measured window; the timed invocation then measures ONLY
# the scoring plan (VERDICT r7 task 5 — the fit-inclusive e2e conflated
# model-fit time with query time and masked scoring-plan regressions).
_PRETRAINED_ENSEMBLE: dict = {}


def _pretrained_ensemble(spark: SparkSession, sf_dir: str):
    """(fitted ensemble, raw feature frame) off the one-slot cache —
    shared by the full pretrained twin and the per-kernel bench twins
    below so all five measure scoring plans against the SAME models."""
    from ..ml.ensemble import AnomalyEnsemble
    from ..ml.features import prepare_event_features

    ev = load_table(spark, sf_dir, "events")
    feature_df = prepare_event_features(ev)
    key = (spark.sparkContext.applicationId, sf_dir)
    ens = _PRETRAINED_ENSEMBLE.get(key)
    if ens is None:
        ens = AnomalyEnsemble(
            seed=42,
            rule_large_amount=EV_LARGE_AMOUNT,
            high_risk_amount=EV_HIGH_RISK_AMOUNT,
        ).fit(feature_df)
        _PRETRAINED_ENSEMBLE.clear()  # one slot: stale sessions keep JVM refs
        _PRETRAINED_ENSEMBLE[key] = ens
    return ens, feature_df


def _pretrained_kernel_feats(spark: SparkSession, sf_dir: str):
    """Fitted ensemble + MLlib-transformed (and spread) feature frame —
    the common prefix every kernel twin shares with transform()."""
    from ..ml.ensemble import _spread

    ens, feature_df = _pretrained_ensemble(spark, sf_dir)
    return ens, _spread(ens.feature_model.transform(feature_df))


# Constructed-PLAN cache for the pretrained bench twins: building the
# twin frame costs ~3 s of pure driver work per invocation (MLlib
# transform assembly, analysis, and pickling/broadcasting the kernel
# models — measured round 11, construct 2.4-3.2 s vs execute 3.1-5.9 s
# steady) and is identical every time for a given (session, sf). The
# twins' DOCUMENTED contract is "repeat invocations measure only the
# scoring plan", so the plan object itself is cached one-app-at-a-time;
# re-forcing a cached DataFrame re-executes it fully (results are never
# cached), and the plan pins nothing (no checkpoints), so bench pin
# hygiene cannot invalidate it.
_PRETRAINED_PLANS: dict = {}


def _pretrained_plan(spark: SparkSession, sf_dir: str, name: str, build):
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _PRETRAINED_PLANS.get(key)
    if df is None:
        df = build()
        # Enforce the "plan pins nothing" contract the cache depends
        # on: bench.release_pins unpersists EVERY persistent RDD
        # between sweep entries, and a localCheckpoint leaf has its
        # lineage truncated — once its blocks are dropped, re-forcing
        # the cached plan fails with missing-block errors mid-sweep.
        # A checkpointed (or otherwise RDD-rooted) plan must therefore
        # never enter this cache; fail at build time, not 200 queries
        # later.
        leaf_plan = df._jdf.queryExecution().analyzed().toString()
        if "LogicalRDD" in leaf_plan:
            raise AssertionError(
                f"_pretrained_plan({name}): built plan contains a "
                "LogicalRDD/checkpoint leaf; cached twin plans must be "
                "fully re-executable after release_pins (see bench.py)"
            )
        for k in list(_PRETRAINED_PLANS):  # stale sessions keep JVM refs
            if k[0] != key[0]:
                del _PRETRAINED_PLANS[k]
        _PRETRAINED_PLANS[key] = df
    return df


def _md5_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig_0..sig_15): the md5-family MinHash signatures shared
    by q_minhash_exact_md5 and q_minhash_band_pairs_md5."""
    from ..operators.dedup import shingles_col

    # 16 md5 evaluations per shingle row land in the MAP-SIDE partial
    # aggregate, which runs on the scan's partitioning; load_table has
    # already spread the one-file small-SF scan over every core.
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(shingles_col("text", 3)).alias("sh"),
    )

    def h(i: int):
        return F.conv(
            F.substring(F.md5(F.concat(F.col("sh"), F.lit(f":{i}"))), 1, 8), 16, 10
        ).cast("long")

    return sh.groupBy("doc_id").agg(
        *[F.min(h(i)).alias(f"sig_{i}") for i in range(16)]
    )


_MINHASH_SIG_SQL = r"""
        WITH base AS (
            SELECT doc_id, text,
                   string_split_regex(trim(text), '\s+') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id AS _id, unnest(list_distinct(
                CASE WHEN length(toks) >= 3 THEN
                    list_transform(generate_series(1, length(toks) - 2),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                ELSE [trim(text)] END)) AS _sh
            FROM base
        ), sig AS (
            SELECT CAST(_id AS BIGINT) AS doc_id,
                   {mins}
            FROM sh
            GROUP BY _id
        )
""".format(
    mins=",\n                   ".join(
        f"MIN(('0x' || substr(md5(_sh || ':{i}'), 1, 8))::BIGINT) AS sig_{i}"
        for i in range(16)
    )
)


# Shared by minhash_band_pairs_md5 AND stream_neardup_replay: the
# banding construction over the md5 signature family — 4 bands of 4,
# pairs sharing >=1 full band, counted per pair.
_MINHASH_BAND_SQL = _MINHASH_SIG_SQL + r"""
        , bands AS (
            SELECT doc_id, band_idx,
                   CASE band_idx
                        WHEN 0 THEN CAST(sig_0 AS VARCHAR) || '-' || CAST(sig_1 AS VARCHAR)
                             || '-' || CAST(sig_2 AS VARCHAR) || '-' || CAST(sig_3 AS VARCHAR)
                        WHEN 1 THEN CAST(sig_4 AS VARCHAR) || '-' || CAST(sig_5 AS VARCHAR)
                             || '-' || CAST(sig_6 AS VARCHAR) || '-' || CAST(sig_7 AS VARCHAR)
                        WHEN 2 THEN CAST(sig_8 AS VARCHAR) || '-' || CAST(sig_9 AS VARCHAR)
                             || '-' || CAST(sig_10 AS VARCHAR) || '-' || CAST(sig_11 AS VARCHAR)
                        ELSE CAST(sig_12 AS VARCHAR) || '-' || CAST(sig_13 AS VARCHAR)
                             || '-' || CAST(sig_14 AS VARCHAR) || '-' || CAST(sig_15 AS VARCHAR)
                   END AS band_key
            FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_idx)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """


# Exact nano-nat ln term for the unigram-LM cross-entropy family
# (doc_lm_cross_entropy and the v2 pipeline share it verbatim).
_XENT_TERM_SQL = (
    "CAST(floor(" + det_ln_sql("inv_p") + " * 1e9 + 5e-1) AS BIGINT)"
)


# EWMA weights: floor(0.8^j * 1e6), j = lag position 0..15. Computed
# once in Python and embedded as LITERALS in both engines' queries, so
# the weighted sum is pure integer arithmetic.
_EWMA_W = [int((0.8**j) * 1_000_000) for j in range(16)]


def _ewma_oracle() -> str:
    lags = ",\n                   ".join(
        f"lag(cents, {j}) OVER w AS l{j}" for j in range(16)
    )
    num = " + ".join(f"COALESCE(l{j} * {w}, 0)" for j, w in enumerate(_EWMA_W))
    den = " + ".join(
        f"CASE WHEN l{j} IS NOT NULL THEN {w} ELSE 0 END"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""
        WITH c AS (
            SELECT event_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   user_id, ts FROM events
        ), l AS (
            SELECT event_id, cents,
                   {lags}
            FROM c
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT CAST(event_id AS BIGINT) AS event_id,
               floor(({num}) / CAST(({den}) AS DOUBLE) * 1e4 + 0.5) / 1e4
                   AS ewma_cents
        FROM l
    """


# BM25 det-ln fragments: rid{i} is the exact-integer odds ratio
# (2(N-df)+1)/(2df+1) == (N-df+0.5)/(df+0.5); the term score is
# ln(rid) * tf_part with the fraction-free tf_part of the rational
# tier (k1=6/5, b=3/4 cleared by 20*W), floored to exact nano ints.
_BM25_RID_SQL = (
    "(CAST(2 * (n_docs - df{i}) + 1 AS DOUBLE)"
    " / CAST(2 * df{i} + 1 AS DOUBLE))"
)
_BM25_TERM_SQL = (
    "CAST(floor(" + det_ln_sql("rid{i}") + " * (CAST(44 * w_total * tf{i} AS DOUBLE)"
    " / CAST(20 * w_total * tf{i} + 6 * w_total + 18 * dl * n_docs AS DOUBLE))"
    " * 1e9 + 5e-1) AS BIGINT)"
)



# PSI (psi_value_drift): expression strings shared verbatim between
# the Spark plan (F.expr) and the DuckDB oracle — identical parse
# trees make the IEEE-double results bit-identical across engines.
_PSI_P_SQL = "((CAST(ref_cnt AS DOUBLE) + 1.0) / (CAST(rt AS DOUBLE) + 10.0))"
_PSI_Q_SQL = "((CAST(cur_cnt AS DOUBLE) + 1.0) / (CAST(ct AS DOUBLE) + 10.0))"
_PSI_TERM_SQL = (
    "CAST(floor((p - q) * "
    + det_ln_sql("ratio")
    + " * 1000000000.0 + 0.5) AS BIGINT)"
)


# Deterministic-transcendental fragments shared verbatim between the
# Spark plans (F.expr) and the DuckDB oracles (see _PSI_* above and
# functions/mathfn.py): identical parse trees -> bit-identical
# doubles -> exact integer fixed-point columns.
_KL_TERM_SQL = (
    "CAST(floor(p * " + det_ln_sql("ratio") + " * 1e9 + 5e-1) AS BIGINT)"
)
_ENT_TERM_SQL = (
    "CAST(floor(p * " + det_ln_sql("inv") + " * 1e9 + 5e-1) AS BIGINT)"
)
_PPLX_SQL = "CAST(floor(" + det_exp_sql("h") + " * 1e6 + 5e-1) AS BIGINT)"
_SOFTMAX_E_SQL = "CAST(floor(" + det_exp_sql("hs") + " * 1e6 + 5e-1) AS BIGINT)"
_TFIDF_SCORE_SQL = (
    "CAST(floor((CAST(c AS DOUBLE) / CAST(len AS DOUBLE)) * ("
    + det_ln_sql("rid")
    + " + 1e0) * 1e9 + 5e-1) AS BIGINT)"
)


_CMS_DEPTH, _CMS_WIDTH = 4, 256


def _cms_bucket_sql(key_expr: str, j: int, width: int = _CMS_WIDTH) -> str:
    return (
        f"('0x' || substr(md5({key_expr} || '#{j}'), 1, 8))::BIGINT % {width}"
    )


# Morton interleave of two 6-bit coordinates (size, price bucket) —
# plain shift/mask SQL, valid verbatim in Spark SQL and DuckDB.
_ZCODE_SQL = " + ".join(
    f"(((sz >> {b}) & 1) * {1 << (2 * b + 1)}) + "
    f"(((pb >> {b}) & 1) * {1 << (2 * b)})"
    for b in range(6)
)


# Bloom layout: 64 words x 63 usable bits (bit index is pos % 63,
# staying below the sign bit so >> / & behave identically on signed
# 64-bit in every engine), k=3 md5-derived hash functions.
_BLOOM_WORDS, _BLOOM_BITS_PER_WORD, _BLOOM_K = 64, 63, 3
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BITS_PER_WORD


def _bloom_pos_sql(key_expr: str, i: int) -> str:
    return (
        f"('0x' || substr(md5({key_expr} || '@{i}'), 1, 8))::BIGINT % {_BLOOM_M}"
    )


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """Distinct part co-purchase edges (a < b): parts sharing an order.

    Per-order pair expansion as ONE groupBy + JVM array comprehension
    (C(k,2) with k = lineitems/order, bounded) — measured 2x cheaper
    than the equivalent self-join on l_orderkey, which scans and
    shuffles lineitem twice. Shared by the triangle-count and BFS
    graph queries (identical edge definition in their oracles)."""
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ps"), i + 2, F.greatest(F.size("ps") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        per_order.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def _ed1_candidate_pairs(names: DataFrame, name_col: str = "name") -> DataFrame:
    """FastSS ED<=1 candidate pairs (Bocek 2007) from a distinct-name
    frame: each name emits itself plus its single-character-deletion
    variants; two names are candidates iff they share a variant.

    One grouped pass (variant -> sorted name list) replaces the r11
    variant self-join, which planned the scan+distinct+explode subtree
    twice (r12). Per-name variants are deduplicated by ``array_union``,
    so names within a group are unique and the sorted in-group order
    reproduces the ``a.name < b.name`` join condition exactly.

    Skew guard (r13, VERDICT r12 task 2): pair expansion runs as TWO
    pipelined generates — posexplode the sorted group, then explode
    each element's tail slice — so per-row state is O(g) for a group of
    g names. The r12 form built the whole O(g²) pair array in ONE row
    (``flatten(transform(...transform(slice...)))``) before exploding:
    fine for sf-scale groups, but a single hot variant — g is bounded
    by construction at (len+1)·|alphabet|+1 distinct insertions, still
    ~10³-10⁴ for long names over a wide alphabet — concentrated g²/2
    structs into one straggler/OOM row at 100 TB scale. The candidate
    pair SET is identical (same tails, same sorted order; equality is
    machine-checked by tests/test_queries_oracle.py's naive-n² oracles
    and the hot-variant test in tests/test_graph.py).

    Returns candidate ``(name_a, name_b)`` with name_a < name_b, NOT
    deduplicated: a pair can meet under several shared variants, so
    callers verify levenshtein and then ``distinct()`` — verify-first
    keeps the dedup shuffle to true matches only (r12).
    """
    n = F.col(name_col)
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(n)),
        lambda i: F.concat(F.substr(n, F.lit(1), i - 1), F.substr(n, i + 1)),
    )
    variants = names.select(
        n.alias("_n"),
        F.explode(F.array_union(F.array(n), deletions)).alias("variant"),
    )
    groups = (
        variants.groupBy("variant")
        .agg(F.array_sort(F.collect_list("_n")).alias("ns"))
        .filter(F.size("ns") >= 2)
    )
    return groups.select(
        F.posexplode("ns").alias("_i", "name_a"), "ns"
    ).select(
        "name_a",
        F.explode(F.expr("slice(ns, _i + 2, size(ns))")).alias("name_b"),
    )


# Poisson(1) inverse-CDF thresholds scaled to u32: floor(cum_pmf * 2^32)
# for k = 0..8 (else 9). Fixed integer literals, so the replicate
# weights come from pure integer comparisons — no libm, no RNG.
_POIS1_U32 = [
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
    4292415291, 4294609777, 4294923276, 4294962463,
]


def _pois_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS1_U32)
    )
    return f"CASE {cases} ELSE 9 END"


_G2_TERM_A_SQL = (
    "CASE WHEN a = 0 THEN 0 ELSE CAST(floor(CAST(a AS DOUBLE) * "
    + det_ln_sql("ratio_a")
    + " * 1e9 + 5e-1) AS BIGINT) END"
)
_G2_TERM_B_SQL = (
    "CASE WHEN b = 0 THEN 0 ELSE CAST(floor(CAST(b AS DOUBLE) * "
    + det_ln_sql("ratio_b")
    + " * 1e9 + 5e-1) AS BIGINT) END"
)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Mechanically-unrolled peel fixpoint: DuckDB's recursive CTEs
    can't re-aggregate degrees per iteration, so the oracle unrolls
    ``rounds`` (degree -> survivors -> reattach) steps — far past the
    measured peel depth (9 at sf0.01; tests/test_graph.py pins a
    <=14-round margin so data drift trips locally first). Edge sets
    only shrink, so extra rounds past the fixpoint are no-ops."""
    parts = []
    prev = "e0"
    for i in range(1, rounds + 1):
        # every CTE MATERIALIZED: each round references its
        # predecessor three times (degree agg + both survivor join
        # sides), and DuckDB's default CTE inlining would otherwise
        # expand the chain 3^rounds-fold (observed as a file-handle
        # explosion on the lineitem scan at rounds=20)
        parts.append(
            f", d{i} AS MATERIALIZED"
            f" (SELECT s, COUNT(*) AS c FROM {prev} GROUP BY 1)"
            f", v{i} AS MATERIALIZED (SELECT s FROM d{i} WHERE c >= {k})"
            f", e{i} AS MATERIALIZED (SELECT e.s, e.d FROM {prev} e"
            f" JOIN v{i} x ON e.s = x.s JOIN v{i} y ON e.d = y.s)"
        )
        prev = f"e{i}"
    return f"""
        WITH pairs AS MATERIALIZED (
            SELECT pa, pb FROM (
                SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa,
                       b.l_partkey AS pb
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ) GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), e0 AS MATERIALIZED (
            SELECT pa AS s, pb AS d FROM pairs
            UNION ALL
            SELECT pb, pa FROM pairs
        ){''.join(parts)}
        SELECT CAST(s AS BIGINT) AS node,
               CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM {prev} GROUP BY 1
    """


_WOE_LN_NANO_SQL = (
    "CAST(floor(" + det_ln_sql("ratio") + " * 1e9 + 5e-1) AS BIGINT)"
)


# 1e9 * ln(2) as the identical shortest-round-trip DOUBLE literal in
# both engines: gain(pos) = 1e9 / log2(pos+1) = (1e9*ln2) / ln(pos+1).
_NDCG_NUM = "6.93147180559945e8"
_NDCG_GAIN_SQL = (
    "CAST(floor(CAST(rel AS DOUBLE) * " + _NDCG_NUM + " / "
    + det_ln_sql("rnd") + " + 5e-1) AS BIGINT)"
)
_NDCG_IDEAL_SQL = (
    "CAST(floor(" + _NDCG_NUM + " / " + det_ln_sql("posd")
    + " + 5e-1) AS BIGINT)"
)


_ZIPF_XN_SQL = "CAST(floor(" + det_ln_sql("rankd") + " * 1e6 + 5e-1) AS BIGINT)"
_ZIPF_YN_SQL = "CAST(floor(" + det_ln_sql("freqd") + " * 1e6 + 5e-1) AS BIGINT)"


# The ladder must stay BARE: Spark's whole-stage codegen inlines an
# entire CASE branch without the method-splitting a top-level
# expression gets, so CASE(det_ln(...)) exceeds the JVM's 64KB method
# limit and drops the stage to interpreted mode (measured; the bare
# ladder compiles fine). Guard the INPUT instead (ratio -> 1.0 on
# degenerate rows, ln(1)=0) and apply the sentinel to the OUTPUT.
_KM_SAFE_RATIO_SQL = (
    "CASE WHEN n_risk > d THEN CAST(n_risk - d AS DOUBLE)"
    " / CAST(n_risk AS DOUBLE) ELSE 1e0 END"
)
_KM_RAW_NANO_SQL = (
    "CAST(floor(" + det_ln_sql("km_ratio") + " * 1e9 + 5e-1) AS BIGINT)"
)
_KM_TERM_SQL = (
    "CASE WHEN n_risk > d THEN raw_nano"
    " ELSE CAST(-99000000000 AS BIGINT) END"
)
_KM_SURV_SQL = "CAST(floor(" + det_exp_sql("km_x") + " * 1e6 + 5e-1) AS BIGINT)"


# Explicit __all__ so family modules' `from .common import *`
# receives underscore-prefixed helpers and SQL constants too.
__all__ = [
    'dataclass',
    'field',
    'Callable',
    'Optional',
    'Column',
    'DataFrame',
    'SparkSession',
    'Window',
    'F',
    'clip01',
    'deviation_ratio',
    'fuse_scores_orchestrator',
    'high_amount_override',
    'risk_level',
    'rule_flags',
    'rule_score',
    'det_exp_col',
    'det_exp_sql',
    'det_ln_col',
    'det_ln_sql',
    'dow_pandas',
    'lookback_filter',
    'ordered_prefix_sum',
    'cosine_similarity',
    'dot',
    'l2_norm',
    'load_table',
    'ANCHOR',
    'TIGHT_ANCHOR',
    'EV_LARGE_AMOUNT',
    'EV_HIGH_RISK_AMOUNT',
    '_CHANNEL_CASE',
    '_LOCATIONS',
    'sround',
    'sround_sql',
    'dec',
    'money_avg',
    'money_avg_sql',
    '_revenue_cents',
    'QuerySpec',
    'REGISTRY',
    'register',
    'queries',
    'oracle_sql',
    '_CUST_PROFILE_CTE',
    '_exact_profile',
    '_Q1_CENTS_SQL',
    '_DUCK_TOKENS',
    '_CPT',
    '_AVG_TOKENS',
    '_DUCK_DOT',
    '_REV_CENTS_SQL',
    '_HLL_M',
    '_HLL_SUFFIX',
    '_KMV_K',
    '_DUCK_BPE',
    '_DUCK_PUNCT',
    '_vec_scalars',
    '_image_features_flat',
    '_video_features_flat',
    '_PRETRAINED_ENSEMBLE',
    '_pretrained_ensemble',
    '_pretrained_kernel_feats',
    '_pretrained_plan',
    '_md5_minhash_sigs',
    '_MINHASH_SIG_SQL',
    '_MINHASH_BAND_SQL',
    '_XENT_TERM_SQL',
    '_EWMA_W',
    '_ewma_oracle',
    '_BM25_RID_SQL',
    '_BM25_TERM_SQL',
    '_PSI_P_SQL',
    '_PSI_Q_SQL',
    '_PSI_TERM_SQL',
    '_KL_TERM_SQL',
    '_ENT_TERM_SQL',
    '_PPLX_SQL',
    '_SOFTMAX_E_SQL',
    '_TFIDF_SCORE_SQL',
    '_CMS_DEPTH',
    '_CMS_WIDTH',
    '_cms_bucket_sql',
    '_ZCODE_SQL',
    '_BLOOM_WORDS',
    '_BLOOM_BITS_PER_WORD',
    '_BLOOM_K',
    '_BLOOM_M',
    '_bloom_pos_sql',
    '_copurchase_pairs',
    '_ed1_candidate_pairs',
    '_POIS1_U32',
    '_pois_w_sql',
    '_G2_TERM_A_SQL',
    '_G2_TERM_B_SQL',
    '_kcore_oracle_sql',
    '_WOE_LN_NANO_SQL',
    '_NDCG_NUM',
    '_NDCG_GAIN_SQL',
    '_NDCG_IDEAL_SQL',
    '_ZIPF_XN_SQL',
    '_ZIPF_YN_SQL',
    '_KM_SAFE_RATIO_SQL',
    '_KM_RAW_NANO_SQL',
    '_KM_TERM_SQL',
    '_KM_SURV_SQL',
]
