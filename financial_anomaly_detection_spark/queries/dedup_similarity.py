"""Exact/near dedup (MinHash/SimHash/Jaccard spans), ANN/similarity, embeddings, decontamination.

Split from the monolithic queries.py (round 10) — pure move, zero
behavior change; registration side effects run at import via
``queries/__init__.py``. 34 registered queries.
"""

from __future__ import annotations

from .common import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# Text / documents (north-star extensions, §2.10)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle="""
        SELECT md5(text) AS text_hash,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    description="Exact dedup (§2.10): group by content hash, keep the lowest "
    "doc_id. Hash-groupBy = one shuffle on a 16-byte key at any scale.",
    tags=["dedup", "text"],
)
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )


@register(
    "dedup_keep_first",
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS doc_id
        FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
    description="Exact dedup, keep-first-by-priority form (§2.10): "
    "row_number over the content hash, rn=1 survivors.",
    tags=["dedup", "window", "text"],
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").cast("long"))
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_DUCK_DOT.format(a='q.embedding', b='c.embedding')}
                   / (sqrt({_DUCK_DOT.format(a='q.embedding', b='q.embedding')})
                    * sqrt({_DUCK_DOT.format(a='c.embedding', b='c.embedding')})) AS cos
            FROM q, embeddings c
            WHERE q.vec_id <> c.vec_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(neighbor_id AS BIGINT) AS neighbor_id,
               {sround_sql('cos', 6)} AS cosine,
               CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rn
            FROM pairs
        ) WHERE rn <= 10
    """,
    description="Brute-force cosine top-k (§2.10 similarity-search baseline): "
    "query set broadcast against all candidates; dot product via zip_with/"
    "aggregate higher-order functions — sequential double accumulation, "
    "bit-identical to the DuckDB oracle. LSH variant is the scale path "
    "(rows-only).",
    tags=["similarity", "vector", "topk"],
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot("q_emb", "embedding") / (l2_norm("q_emb") * l2_norm("embedding"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            sround(F.col("cos"), 6).alias("cosine"),
            F.col("rn").cast("long"),
        )
    )


@register(
    "ann_ivf_topk",
    oracle=None,
    description="IVF-style ANN (§2.10 scale path #2): MLlib KMeans coarse "
    "quantizer, nprobe nearest cells searched per query — O(N·nprobe/"
    "nlist) per query, no UDFs. Recall vs the exact tier asserted in "
    "tests.",
    tags=["similarity", "ivf", "vector"],
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    out = ivf_topk(emb, qs, "vec_id", "embedding", k=10, nprobe=4)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        sround(F.col("cosine"), 6).alias("cosine"),
        F.col("rn").cast("long"),
    )


@register(
    "ml_lof_distributed",
    oracle=None,
    description="Fully-distributed LOF (§2.7 M6 scale form): LSH candidate "
    "pairs -> k-distance/lrd/LOF as grouped aggregations + self-joins — "
    "both sides scale out, no broadcast reference set, no UDFs.",
    tags=["ml", "lof", "lsh"],
)
def q_ml_lof_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.lof_distributed import distributed_lof

    emb = load_table(spark, sf_dir, "embeddings")
    out = distributed_lof(emb, "vec_id", "embedding", n_neighbors=20)
    return out.select(F.col("vec_id").cast("long"), sround(F.col("lof"), 6).alias("lof"))


@register(
    "embedding_cosine_near_dup",
    # Embedding-space near-duplicate pairs (§2.10 "embedding-cosine
    # near-dup"): all pairs above a cosine threshold. Self-join bounded
    # by blocking on label (a cheap exact blocker for the oracle tier;
    # the LSH tier is the scale path).
    oracle=f"""
        WITH pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
                   / (sqrt({_DUCK_DOT.format(a='a.embedding', b='a.embedding')})
                    * sqrt({_DUCK_DOT.format(a='b.embedding', b='b.embedding')})) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT CAST(id_a AS BIGINT) AS id_a,
               CAST(id_b AS BIGINT) AS id_b,
               {sround_sql('cos', 6)} AS cosine
        FROM pairs WHERE cos >= 0.3
    """,
    description="Embedding-cosine near-dup pairs (§2.10): same-label "
    "blocked self-join, exact double cosine, threshold 0.3 (the testdata "
    "embeddings are near-orthogonal; same-label max cos ~0.5) — the "
    "exact twin of the LSH near-dup tier.",
    tags=["dedup", "vector", "similarity"],
)
def q_embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectorfn import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # Precompute each row's norm BEFORE the self-join: same sqrt on the
    # same dot product, so bit-identical to a per-pair norm — but O(n)
    # higher-order-function reductions instead of O(pairs) x 2.
    a = emb.select(
        F.col("label").alias("_lbl"), F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_ea"), l2_norm("embedding").alias("_na"),
    )
    b = emb.select(
        F.col("label").alias("_lbl"), F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_eb"), l2_norm("embedding").alias("_nb"),
    )
    denom = F.col("_na") * F.col("_nb")
    pairs = a.join(b, ["_lbl"]).filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b",
        F.when(denom > 0, dot("_ea", "_eb") / denom).alias("cos"),
    )
    return pairs.filter(F.col("cos") >= 0.3).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        sround(F.col("cos"), 6).alias("cosine"),
    )


@register(
    "embedding_norm_stats",
    # Norms are bit-identical scalars; quantize to 1e-6 before the group
    # sum so accumulation order can't matter, then divide by count.
    oracle=f"""
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sround_sql(
                   "SUM(CAST(floor(sqrt(" + _DUCK_DOT.format(a='embedding', b='embedding')
                   + ") * 1e6 + 0.5) AS BIGINT)) / (1e6 * COUNT(*))", 4)} AS avg_l2_norm,
               CAST(MIN(length(embedding)) AS BIGINT) AS dim
        FROM embeddings
        GROUP BY label
    """,
    description="Vector-column statistics (§2.10): per-label L2-norm "
    "average over the array<float> embedding column, JVM-side.",
    tags=["vector", "aggregate"],
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm_q = F.floor(l2_norm("embedding") * F.lit(1e6) + F.lit(0.5)).cast("long")
    return emb.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        sround(F.sum(norm_q) / (F.lit(1e6) * F.count(F.lit(1))), 4).alias("avg_l2_norm"),
        F.min(F.size("embedding")).cast("long").alias("dim"),
    )


# ---------------------------------------------------------------------------
# Near-dup dedup / similarity / text / multimodal (north-star §2.10)
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    # Exact Jaccard over 3-gram word shingles; integers divided by
    # integers are bit-identical, so only the output needs sround.
    oracle=r"""
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
        ), sizes AS (
            SELECT _id, COUNT(*) AS _sz FROM sh GROUP BY _id
        ), common AS (
            SELECT a._id AS id_a, b._id AS id_b, COUNT(*) AS _common
            FROM sh a JOIN sh b ON a._sh = b._sh AND a._id < b._id
            GROUP BY 1, 2
        )
        SELECT CAST(id_a AS BIGINT) AS id_a,
               CAST(id_b AS BIGINT) AS id_b,
               floor((_common * 1.0 / (sa._sz + sb._sz - _common)) * 1e6 + 0.5) / 1e6 AS jaccard
        FROM common
        JOIN sizes sa ON id_a = sa._id
        JOIN sizes sb ON id_b = sb._id
        WHERE _common * 1.0 / (sa._sz + sb._sz - _common) >= 0.5
    """,
    description="Exact n-gram Jaccard near-dup pairs (§2.10 tier 2, the "
    "oracle-checkable ground truth for the LSH tiers): shingle explode -> "
    "shingle-keyed co-occurrence join -> set-size normalize. The testdata "
    "contains planted near-dups (max J ≈ 0.99).",
    tags=["dedup", "text", "join"],
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return pairs.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        sround(F.col("jaccard"), 6).alias("jaccard"),
    )


@register(
    "jaccard_pairs_prefix_filter",
    # SAME oracle as ngram_jaccard_pairs: prefix filtering (Chaudhuri
    # 2006 / Xiao 2008) is LOSSLESS for threshold-Jaccard, and the
    # driver hash-matching this query against the naive all-pairs
    # DuckDB computation is the machine-checked proof. The Spark plan
    # self-joins only each doc's |d| - ceil(t|d|) + 1 globally-rarest
    # shingles — the scale form of the hot-shingle cap with zero
    # recall loss (candidate keys are by construction the cold ones).
    oracle=r"""
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
        ), sizes AS (
            SELECT _id, COUNT(*) AS _sz FROM sh GROUP BY _id
        ), common AS (
            SELECT a._id AS id_a, b._id AS id_b, COUNT(*) AS _common
            FROM sh a JOIN sh b ON a._sh = b._sh AND a._id < b._id
            GROUP BY 1, 2
        )
        SELECT CAST(id_a AS BIGINT) AS id_a,
               CAST(id_b AS BIGINT) AS id_b,
               floor((_common * 1.0 / (sa._sz + sb._sz - _common)) * 1e6 + 0.5) / 1e6 AS jaccard
        FROM common
        JOIN sizes sa ON id_a = sa._id
        JOIN sizes sb ON id_b = sb._id
        WHERE _common * 1.0 / (sa._sz + sb._sz - _common) >= 0.5
    """,
    description="Prefix-filtering threshold-Jaccard join: candidates "
    "only from each doc's globally-rarest prefix shingles (pigeonhole "
    "guarantees prefixes of any >=t pair intersect), exact Jaccard "
    "re-verification on full sets. Identical output to the naive "
    "all-shingle self-join — the oracle IS the naive computation, so "
    "the hash match machine-checks the losslessness claim. At 100 TB "
    "this replaces the hot-shingle df cap: same fan-out bound, zero "
    "recall loss.",
    tags=["dedup", "text", "join", "llm-pipeline"],
)
def q_jaccard_pairs_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return pairs.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        sround(F.col("jaccard"), 6).alias("jaccard"),
    )


@register(
    "minhash_near_dup",
    oracle=None,
    description="MinHash LSH near-dup candidates (§2.10 tier 3, scale path): "
    "shingles -> HashingTF binary vector -> MinHashLSH approxSimilarityJoin; "
    "candidates from band buckets, not a cross join. Recall vs the exact "
    "tier asserted in tests/test_extensions.py.",
    tags=["dedup", "lsh"],
)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", max_jaccard_distance=0.5)
    return pairs.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        sround(F.col("jaccard_distance"), 6).alias("jaccard_distance"),
    )


@register(
    "simhash_near_dup",
    oracle=None,
    description="SimHash near-dup pairs (§2.10 tier 4): 64-bit signatures "
    "via xxhash64 token votes (pure JVM bit math), pigeonhole blocking on "
    "16-bit quarters, Hamming <= 3. Rows-only: hash functions are "
    "engine-specific.",
    tags=["dedup", "simhash"],
)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("hamming").cast("long"),
    )


@register(
    "ann_lsh_topk",
    oracle=None,
    description="Approximate nearest neighbors via BucketedRandomProjection "
    "LSH over L2-normalized embeddings. DEMOTED to explicit opt-in (r5): "
    "measured slower than the exact tier through x30 on structure-free "
    "vectors and merely tied with IVF on its clustered home fixture "
    "(SCALING.md 'ANN tier selection'), so the exact and IVF tiers are "
    "the defaults, never this. Registered for parity with MLlib-tuned "
    "pipelines; recall vs the exact tier asserted in tests.",
    tags=["similarity", "lsh", "vector"],
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    out = lsh_topk(emb, queries_df, "vec_id", "embedding", k=10)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        sround(F.col("cosine"), 6).alias("cosine"),
        F.col("rn").cast("long"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline text signals (round 2): Gopher-style repetition
# quality rules (Rae et al. 2021, "Scaling Language Models" §A1.1),
# exact-substring chunk dedup (Lee et al. 2021), source mixing stats,
# and deterministic stratified sampling.
# ---------------------------------------------------------------------------


@register(
    "duplicate_chunks_across_docs",
    oracle=r"""
        WITH w AS (
            SELECT doc_id, trim(text) AS txt,
                   string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), g AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 5 THEN
                       list_distinct(list_transform(
                           range(1, len(t) - 3),
                           i -> array_to_string(t[i:i+4], ' ')
                       ))
                   ELSE [txt] END AS grams
            FROM w
        ), e AS (
            SELECT doc_id, u.chunk FROM g, unnest(grams) AS u(chunk)
        )
        SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM e GROUP BY chunk
        HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    description="Exact-substring cross-document dedup at 5-gram "
    "granularity (Lee et al. 2021): every chunk appearing in >=2 "
    "distinct documents. Distributed analog of the suffix-array pass: "
    "explode distinct shingles, one shuffle keyed on the chunk, "
    "countDistinct docs. The oracle mirrors shingles_col's short-doc "
    "whole-text fallback, so <5-word documents agree by construction "
    "even though current testdata has none.",
    tags=["dedup", "text", "llm-pipeline"],
)
def q_duplicate_chunks_across_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicate_chunks

    return duplicate_chunks(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=5, min_docs=2
    )


@register(
    "benchmark_contamination",
    # Train/eval decontamination (GPT-3 appendix C / Brown et al. 2020,
    # public methodology): n-gram collision between the training corpus
    # and a benchmark set — here the deterministic pseudo-benchmark is
    # doc_id % 50 == 0. The distributed shape is the important part:
    # explode each side's DISTINCT 5-grams, one shuffle keyed on the
    # gram, aggregate collisions per training doc.
    oracle=r"""
        WITH w AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), g AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 5 THEN
                       list_distinct(list_transform(
                           range(1, len(t) - 3),
                           i -> array_to_string(t[i:i+4], ' ')
                       ))
                   ELSE [] END AS grams
            FROM w
        ), e AS (
            SELECT doc_id, len(grams) AS n_grams, u.gram
            FROM g, unnest(grams) AS u(gram)
        ), bench AS (
            SELECT DISTINCT gram FROM e WHERE doc_id % 50 = 0
        ), hits AS (
            SELECT e.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS contaminated_grams
            FROM e JOIN bench USING (gram)
            WHERE e.doc_id % 50 <> 0
            GROUP BY e.doc_id
        )
        SELECT g2.doc_id,
               CAST(len(g2.grams) AS BIGINT) AS n_grams,
               COALESCE(h.contaminated_grams, 0) AS contaminated_grams,
               CASE WHEN len(g2.grams) > 0 THEN
                   floor(COALESCE(h.contaminated_grams, 0)
                         / CAST(len(g2.grams) AS DOUBLE) * 1e6 + 0.5) / 1e6
               ELSE 0.0 END AS contamination_ratio
        FROM g g2 LEFT JOIN hits h ON g2.doc_id = h.doc_id
        WHERE g2.doc_id % 50 <> 0
    """,
    description="Benchmark decontamination (Brown et al. 2020 app. C): "
    "per training doc, how many of its distinct 5-grams collide with "
    "the benchmark set's gram inventory. One shuffle keyed on the gram "
    "(at 100 TB: key on xxhash64 of the gram so the shuffle moves 8-byte "
    "keys, same collisions), benchmark side is distinct-deduped before "
    "the join; per-doc ratio from exact integer counts.",
    tags=["text", "dedup", "llm-pipeline", "join"],
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    # <5-word docs: F.sequence(0, size-5) would DESCEND and slice(_, 0, _)
    # throws — clamp to an empty gram set (same guard as
    # operators/dedup.py shingles_col; mirrored by the oracle's CASE)
    grams = F.when(
        F.size(words) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 5),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, 5)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Pin the per-doc gram table: it feeds the benchmark branch, the
    # collision join, AND the n_grams denominators — without pinning
    # the gram construction (sequence+slice+concat per position) runs
    # once per consumer.
    g = d.select("doc_id", grams.alias("grams")).withColumn(
        "n_grams", F.size("grams").cast("long")
    ).localCheckpoint(eager=True)
    e = g.select("doc_id", "n_grams", F.explode("grams").alias("gram"))
    bench = (
        e.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    )
    hits = (
        e.filter(F.col("doc_id") % 50 != 0)
        .join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("contaminated_grams"))
    )
    train = g.filter(F.col("doc_id") % 50 != 0).select("doc_id", "n_grams")
    out = train.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("contaminated_grams", F.lit(0)).cast("long").alias(
            "contaminated_grams"
        ),
        F.when(
            F.col("n_grams") > 0,
            sround(
                F.coalesce("contaminated_grams", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("contamination_ratio"),
    )
    return out


@register(
    "ann_exact_quantized",
    # Hash-level oracle evidence for the ANN top-k math — the LSH/IVF
    # tiers are rows-only by nature (LSH buckets / KMeans cells aren't
    # SQL-expressible), so this anchors their recall baselines the way
    # lof_exact_quantized anchors the LOF tiers. Trick: quantize each
    # coordinate to integer milli-units up-front; dot products and
    # squared norms are then EXACT int64 arithmetic (|x|<=1, dim 64 ->
    # norm <= 6.4e7, norm product <= 4.1e15 < 2^63), and the cosine is
    # one division of an exact integer by the correctly-rounded sqrt
    # of an exact integer — bit-identical across engines, so both the
    # VALUES and the top-10 RANKING agree at the hash level.
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                                 AS BIGINT)) AS q
            FROM embeddings WHERE vec_id < 500
        ), n AS (
            SELECT vec_id, q,
                   CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
                       AS norm_u
            FROM e
        ), p AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(
                       list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT)
                       AS dot_u,
                   CAST(CAST(list_sum(list_transform(
                           list_zip(a.q, b.q), x -> x[1] * x[2]))
                        AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(a.norm_u * b.norm_u AS DOUBLE)) AS cos_exact
            FROM n a JOIN n b
              ON a.vec_id < 50 AND a.vec_id <> b.vec_id
        )
        SELECT query_id, neighbor_id, dot_u,
               floor(cos_exact * 1e6 + 0.5) / 1e6 AS cosine_q,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_exact DESC, neighbor_id
               ) AS BIGINT) AS rn
        FROM p
        QUALIFY rn <= 10
    """,
    description="Exact quantized-integer cosine top-10 on a fixed "
    "500-vector slice (50 query vectors): coordinates quantized to "
    "milli-units, dot products and norms in exact int64, cosine = one "
    "division by a correctly-rounded sqrt — bit-deterministic ranking "
    "AND values, giving the ANN tiers (ann_lsh_topk / ann_ivf_topk) an "
    "oracle-anchored ground truth alongside their recall pytests. "
    "Constant-cost verification tier; the bucketed/celled tiers are "
    "the scale path.",
    tags=["similarity", "ann", "oracle-surrogate"],
)
def q_ann_exact_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
    )
    norm = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda a, v: a + v
    )
    base = emb.select("vec_id", quant.alias("q")).withColumn("norm_u", norm)
    a = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("_qa"),
        F.col("norm_u").alias("_na"),
    )
    b = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("_qb"),
        F.col("norm_u").alias("_nb"),
    )
    dot_u = F.aggregate(
        F.zip_with("_qa", "_qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        b.join(F.broadcast(a), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_u", dot_u)
        .withColumn(
            "cos_exact",
            F.col("dot_u").cast("double")
            / F.sqrt((F.col("_na") * F.col("_nb")).cast("double")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_exact"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "dot_u",
            sround(F.col("cos_exact"), 6).alias("cosine_q"),
            "rn",
        )
    )


@register(
    "ivfpq_exact_quantized",
    # Hash-level oracle evidence for the IVFADC math itself
    # (operators/similarity.py:ivf_pq_adc_pairs) — the production
    # ann_ivfpq_topk tier is rows-only because its k-means quantizers
    # aren't SQL-expressible, so this pins the assign -> residual ->
    # PQ-encode -> distance-table -> O(m)-lookup ADC sum pipeline the
    # way ann_exact_quantized anchors the exact tier. Trick: the
    # quantizers are INJECTED, not trained — the coarse centroids are
    # the first 4 vectors of the slice in md5(vec_id) order and the
    # m x pq_k codebooks are the subvectors of the next 8, all in
    # exact integer milli-units. Every residual, table entry, and ADC
    # sum is then an exact float64 integer (<= 4*16*2000^2 ~ 2.6e8 <<
    # 2^53), so DuckDB can rebuild the identical pipeline relationally
    # (Jegou 2011 SV eq. 12-13's ADC definition: d(q,x)^2 ~ sum_j
    # ||q_res[j] - B[j][code_j(x)]||^2) and the VALUES and the
    # shortlist RANKING hash-match bit-for-bit. nprobe == nlist so the
    # oracle needs cell ASSIGNMENT (argmin, ties to the lower cell id
    # — numpy argmin's first-occurrence rule) but no probe ordering.
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                                 AS BIGINT)) AS q
            FROM embeddings WHERE vec_id < 400
        ), ranked AS (
            SELECT vec_id, q,
                   row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
            FROM e
        ), cent AS (
            SELECT rk - 1 AS cell, q AS cq FROM ranked WHERE rk <= 4
        ), js AS (
            SELECT unnest(generate_series(0, 3)) AS j
        ), cwsub AS (
            SELECT rk - 5 AS code, js.j,
                   list_slice(q, js.j * 16 + 1, js.j * 16 + 16) AS ws
            FROM ranked, js WHERE rk BETWEEN 5 AND 12
        ), assign AS (
            SELECT vec_id, q, cell, cq FROM (
                SELECT e.vec_id, e.q, c.cell, c.cq,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_sum(list_transform(
                               list_zip(e.q, c.cq),
                               p -> (p[1] - p[2]) * (p[1] - p[2]))),
                               c.cell) AS arn
                FROM e, cent c
            ) WHERE arn = 1
        ), rsub AS (
            SELECT a.vec_id, a.cell, js.j,
                   list_slice(list_transform(list_zip(a.q, a.cq),
                                             p -> p[1] - p[2]),
                              js.j * 16 + 1, js.j * 16 + 16) AS rs
            FROM assign a, js
        ), codes AS (
            SELECT vec_id, cell, j, code FROM (
                SELECT s.vec_id, s.cell, s.j, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.j
                           ORDER BY list_sum(list_transform(
                               list_zip(s.rs, c.ws),
                               p -> (p[1] - p[2]) * (p[1] - p[2]))),
                               c.code) AS crn
                FROM rsub s JOIN cwsub c ON s.j = c.j
            ) WHERE crn = 1
        ), qtab AS (
            SELECT qv.vec_id AS query_id, c.cell, cw.j, cw.code,
                   list_sum(list_transform(
                       list_zip(
                           list_slice(list_transform(list_zip(qv.q, c.cq),
                                                     p -> p[1] - p[2]),
                                      cw.j * 16 + 1, cw.j * 16 + 16),
                           cw.ws),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2q
            FROM e qv, cent c, cwsub cw
            WHERE qv.vec_id < 25
        ), adc AS (
            SELECT t.query_id, k.vec_id AS neighbor_id,
                   CAST(SUM(t.d2q) AS BIGINT) AS adc_u
            FROM codes k
            JOIN qtab t ON t.cell = k.cell AND t.j = k.j AND t.code = k.code
            WHERE t.query_id <> k.vec_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, adc_u,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_u, neighbor_id) AS BIGINT) AS rn
        FROM adc
        QUALIFY rn <= 10
    """,
    description="IVFADC pipeline pinned at the hash level: injected "
    "integer anchor quantizers (md5-ordered slice rows) run through "
    "the REAL encode/probe Arrow kernels and the O(m) ADC lookup "
    "(similarity.py:ivf_pq_adc_pairs), emitting exact-integer "
    "asymmetric distances; DuckDB rebuilds assign/encode/table/sum "
    "relationally and the per-query ADC top-10 hash-matches. The "
    "trained-quantizer tier (ann_ivfpq_topk) stays rows-only with "
    "recall pinned in pytest; this proves the distance MATH it runs "
    "on. Constant-cost verification slice (400 cands x 25 queries).",
    tags=["similarity", "ann", "oracle-surrogate"],
)
def q_ivfpq_exact_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.similarity import ivf_pq_adc_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
    )
    base = emb.select("vec_id", quant.alias("q"))
    # bounded anchor pool (12 rows), md5-ordered — the fit-pool
    # discipline: constant driver-side state however big the corpus
    rows = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(12)
        .collect()
    )
    d = len(rows[0]["q"])
    m, dsub = 4, d // 4
    C = np.asarray([r["q"] for r in rows[:4]], dtype="float64")
    B = np.asarray(
        [
            [rows[4 + c]["q"][j * dsub : (j + 1) * dsub] for c in range(8)]
            for j in range(m)
        ],
        dtype="float64",
    )
    pairs = ivf_pq_adc_pairs(
        base,
        base.filter(F.col("vec_id") < 25),
        id_col="vec_id",
        vec_col="q",
        nprobe=4,  # == nlist: all cells probed, so routing drops nothing
        centroids=C,
        codebooks=B,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_u"), F.asc("neighbor_id"))
    return (
        pairs.select(
            "query_id", "neighbor_id", F.col("_adc").cast("long").alias("adc_u")
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
    )


@register(
    "winnow_fingerprint_md5",
    # Hash-level oracle surrogate for the winnowing document
    # fingerprint (Schleimer, Wilkerson & Aiken 2003 "Winnowing:
    # Local Algorithms for Document Fingerprinting"): the production
    # tier (text_lang_fingerprint / operators/textops.
    # rolling_fingerprint) takes the min xxhash64 over character
    # 8-gram rolling substrings — engine-specific hash, rows-only.
    # Here the same minimum-sampling math runs on md5-derived 32-bit
    # gram hashes both engines share (the minhash_exact_md5 /
    # hll_exact_md5 discipline), entirely in higher-order functions:
    # no explode, no shuffle — one map-side expression per document.
    oracle="""
        SELECT doc_id,
               CAST(greatest(length(text) - 7, 1) AS BIGINT) AS n_grams,
               CAST(list_min(list_transform(
                   range(1, greatest(length(text) - 7, 1) + 1),
                   i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 8))::BIGINT
               )) AS BIGINT) AS fp_u
        FROM documents
    """,
    description="Winnowing fingerprint with md5-surrogate hashes: min "
    "32-bit gram hash over all character 8-grams per document, pure "
    "higher-order functions (zero shuffle, zero explode — the gram "
    "array never materializes past the expression). Pins the "
    "minimum-sampling math of the rows-only xxhash64 tier. At 100 TB "
    "this is embarrassingly parallel map work.",
    tags=["text", "dedup", "oracle-surrogate", "llm-pipeline"],
)
def q_winnow_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("CAST(greatest(length(text) - 7, 1) AS BIGINT)").alias("n_grams"),
        F.expr(
            "CAST(array_min(transform(sequence(1, greatest(length(text) - 7, 1)), "
            "i -> CAST(conv(substring(md5(substr(text, i, 8)), 1, 8), 16, 10) "
            "AS BIGINT))) AS BIGINT)"
        ).alias("fp_u"),
    )


@register(
    "minhash_exact_md5",
    # Hash-level oracle surrogate for the MinHash tier's signature math
    # (operators/dedup.py:minhash_near_dup — the MLlib hash family is
    # engine-specific, so the production tier is rows-only). Here the
    # hash family is md5-derived: H_i(s) = first 8 hex chars of
    # md5(s || ':' || i) as an unsigned 32-bit int — both engines
    # compute identical md5 over identical UTF-8 bytes, and the min
    # over a doc's shingle set is pure integer math. Same 3-gram
    # shingle construction (set semantics) as ngram_jaccard_pairs.
    oracle=r"""
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
        )
        SELECT CAST(_id AS BIGINT) AS doc_id,
               MIN(('0x' || substr(md5(_sh || ':0'), 1, 8))::BIGINT) AS sig_0,
               MIN(('0x' || substr(md5(_sh || ':1'), 1, 8))::BIGINT) AS sig_1,
               MIN(('0x' || substr(md5(_sh || ':2'), 1, 8))::BIGINT) AS sig_2,
               MIN(('0x' || substr(md5(_sh || ':3'), 1, 8))::BIGINT) AS sig_3,
               MIN(('0x' || substr(md5(_sh || ':4'), 1, 8))::BIGINT) AS sig_4,
               MIN(('0x' || substr(md5(_sh || ':5'), 1, 8))::BIGINT) AS sig_5,
               MIN(('0x' || substr(md5(_sh || ':6'), 1, 8))::BIGINT) AS sig_6,
               MIN(('0x' || substr(md5(_sh || ':7'), 1, 8))::BIGINT) AS sig_7,
               MIN(('0x' || substr(md5(_sh || ':8'), 1, 8))::BIGINT) AS sig_8,
               MIN(('0x' || substr(md5(_sh || ':9'), 1, 8))::BIGINT) AS sig_9,
               MIN(('0x' || substr(md5(_sh || ':10'), 1, 8))::BIGINT) AS sig_10,
               MIN(('0x' || substr(md5(_sh || ':11'), 1, 8))::BIGINT) AS sig_11,
               MIN(('0x' || substr(md5(_sh || ':12'), 1, 8))::BIGINT) AS sig_12,
               MIN(('0x' || substr(md5(_sh || ':13'), 1, 8))::BIGINT) AS sig_13,
               MIN(('0x' || substr(md5(_sh || ':14'), 1, 8))::BIGINT) AS sig_14,
               MIN(('0x' || substr(md5(_sh || ':15'), 1, 8))::BIGINT) AS sig_15
        FROM sh
        GROUP BY _id
    """,
    description="MinHash signature math with hash-level oracle parity "
    "(§2.10): 16 md5-derived hash permutations, min over each doc's "
    "3-gram shingle set — integer-exact ground truth anchoring the "
    "rows-only MLlib MinHashLSH tier (Broder 1997 resemblance "
    "estimation; one shingle-keyed explode + grouped min, no joins).",
    tags=["dedup", "minhash", "oracle-surrogate"],
)
def q_minhash_exact_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _md5_minhash_sigs(spark, sf_dir)


@register(
    "simhash_exact_md5",
    # Hash-level oracle surrogate for the SimHash tier's signature math
    # (operators/dedup.py — production tier keys on xxhash64, which
    # DuckDB lacks). Charikar 2002 bit-vote construction over the
    # distinct token set with a 32-bit md5-derived token hash: per bit,
    # sum +1/-1 votes; the signature sets bits with positive votes.
    # All-integer both sides.
    oracle=r"""
        WITH base AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents
        ), tok AS (
            SELECT doc_id AS _id, unnest(list_distinct(toks)) AS tok FROM base
        ), hv AS (
            SELECT _id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM tok
        ), votes AS (
            SELECT _id,
                   {votes}
            FROM hv GROUP BY _id
        )
        SELECT CAST(_id AS BIGINT) AS doc_id,
               CAST({sig} AS BIGINT) AS simhash32
        FROM votes
    """.format(
        votes=",\n                   ".join(
            f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
            for b in range(32)
        ),
        sig=" + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)),
    ),
    description="SimHash signature math with hash-level oracle parity "
    "(§2.10): Charikar 2002 bit votes over md5-derived 32-bit token "
    "hashes, grouped conditional sums (the same vote formulation as the "
    "production tier) — integer-exact ground truth for the rows-only "
    "xxhash64 SimHash near-dup tier.",
    tags=["dedup", "simhash", "oracle-surrogate"],
)
def q_simhash_exact_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.array_distinct(tokens_col("text"))).alias("tok"),
    )
    hv = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    votes = tok.select("doc_id", hv.alias("hv")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    sig = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash32"))


@register(
    "minhash_band_pairs_md5",
    # Extends minhash_exact_md5's hash parity to the LSH BANDING step
    # (the candidate-generation structure the production tier uses):
    # 16 signatures -> 4 bands of 4 -> docs sharing any band key become
    # a candidate pair. Banding is the at-scale trick — the join is
    # band-key-local (one shuffle on the band key), never all-pairs.
    oracle=_MINHASH_BAND_SQL,
    description="MinHash LSH banding with hash-level oracle parity "
    "(§2.10): 4 bands of 4 md5-family signatures; candidate pairs share "
    "at least one full band (Leskovec/Rajaraman/Ullman banding "
    "construction). The join keys on the band value — bucket-local, "
    "the same candidate-generation shape the production MinHashLSH "
    "tier relies on at scale.",
    tags=["dedup", "minhash", "oracle-surrogate"],
)
def q_minhash_band_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _md5_minhash_sigs(spark, sf_dir)
    band_keys = F.array(
        *[
            F.concat_ws(
                "-", *[F.col(f"sig_{4 * b + j}").cast("string") for j in range(4)]
            )
            for b in range(4)
        ]
    )
    bands = sigs.select(
        "doc_id", F.posexplode(band_keys).alias("band_idx", "band_key")
    )
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


@register(
    "stream_neardup_replay",
    # SAME oracle as minhash_band_pairs_md5 — by design: the bucket
    # replay over the static corpus must reproduce the batch banding
    # construction bit-exactly, which simultaneously
    # proves the PYTHON sig kernel (streaming/neardup.py minhash_sigs,
    # pure hashlib) computes the identical md5 signature family as the
    # Spark column expression AND DuckDB SQL.
    oracle=_MINHASH_BAND_SQL,
    description="Near-dup band index, batch-replay form "
    "(VERDICT r9 task 5): the bucket-replay kernel "
    "(streaming/neardup.py replay_bucket — per band-bucket capped "
    "doc_id list, collisions emitted as docs arrive) applied per band "
    "group, aggregated to (id_a, id_b, n_shared_bands). Bounded "
    "per-bucket work (cap + overflow counter). One shuffle on the band "
    "key; pair work is bucket-local and cap-bounded, never all-pairs.",
    tags=["dedup", "minhash", "streaming", "oracle-surrogate"],
)
def q_stream_neardup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.neardup import batch_band_collisions

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # cap far above any non-degenerate bucket at test SFs so the
    # replay equals the uncapped banding oracle; the cap exists for
    # the adversarial hot-bucket case, tested separately.
    pairs = batch_band_collisions(docs, "doc_id", "text", cap=8192)
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_bands")
    )


@register(
    "int8_quantize_embeddings",
    # Scalar int8 quantization of the embedding column — the standard
    # vector-store compression (absmax scaling, symmetric int8): per
    # vector, scale = max |x_i|, q_i = round(x_i / scale * 127). The
    # quantized integers and their moments are exact; the
    # reconstruction error sums IEEE-identical terms left-to-right on
    # both engines (the zip_with+aggregate ≙ list_sum(list_transform(
    # list_zip)) equivalence the ANN queries rely on).
    oracle=r"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
            FROM embeddings
        ), s AS (
            SELECT vec_id, xd,
                   list_max(list_transform(xd, x -> abs(x))) AS scale
            FROM e
        ), q AS (
            SELECT vec_id, xd, scale,
                   list_transform(
                       xd, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)
                   ) AS qv
            FROM s WHERE scale > 0
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               floor(scale * 1e6 + 0.5) / 1e6 AS qmax,
               CAST(list_sum(qv) AS BIGINT) AS sum_q,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sum_q2,
               floor(list_sum(list_transform(
                   list_zip(xd, qv),
                   p -> (p[1] - p[2] * scale / 127) * (p[1] - p[2] * scale / 127)
               )) * 1e6 + 0.5) / 1e6 AS qerr
        FROM q
    """,
    description="Symmetric absmax int8 quantization of embeddings "
    "(§2.10 similarity-search storage path): per-vector scale, exact "
    "integer quantized moments, and the float reconstruction error — "
    "the compression step a 100 TB vector store applies before ANN. "
    "Pure higher-order-function Catalyst; no UDFs, no shuffle beyond "
    "the scan.",
    tags=["similarity", "embeddings", "quantization"],
)
def q_int8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").cast("long").alias("vec_id"), xd.alias("xd"))
    scale = F.array_max(F.transform("xd", lambda x: F.abs(x)))
    s = base.withColumn("scale", scale).filter(F.col("scale") > 0)
    qv = F.transform(
        "xd", lambda x: F.floor(x / F.col("scale") * 127 + F.lit(0.5)).cast("long")
    )
    q = s.withColumn("qv", qv)
    long0 = F.lit(0).cast("long")
    sum_q = F.aggregate("qv", long0, lambda a, v: a + v)
    sum_q2 = F.aggregate(
        F.transform("qv", lambda x: x * x), long0, lambda a, v: a + v
    )
    err_terms = F.zip_with(
        "xd",
        "qv",
        lambda x, v: (x - v * F.col("scale") / 127) * (x - v * F.col("scale") / 127),
    )
    qerr = F.aggregate(err_terms, F.lit(0.0), lambda a, v: a + v)
    return q.select(
        "vec_id",
        sround(F.col("scale"), 6).alias("qmax"),
        sum_q.alias("sum_q"),
        sum_q2.alias("sum_q2"),
        sround(qerr, 6).alias("qerr"),
    )


@register(
    "curation_pipeline_e2e",
    # Capstone composition: the four curation stages as ONE declarative
    # plan — C4 quality gate -> exact dedup (keep-first by doc_id) ->
    # deterministic stratified sample -> sequence packing. Every stage
    # is integer-exact, so the composed result hash-matches end-to-end.
    # Catalyst fuses the gate into the scan, plans one shuffle for the
    # dedup window, none for the hash sample; packing runs the two-pass
    # parallel prefix sum (operators/prefix.py) — no single-partition
    # window exchange anywhere in the composed plan.
    oracle=r"""
        WITH w AS (
            SELECT doc_id, lang, text,
                   string_split_regex(trim(text), '\s+') AS words,
                   length(replace(trim(text), ' ', '')) AS n_letters
            FROM documents
        ), gated AS (
            SELECT doc_id, lang, text,
                   CAST(len(words) AS BIGINT) AS n_tokens
            FROM w
            WHERE len(words) >= 20
              AND (list_contains(words, 'the') OR list_contains(words, 'a'))
              AND list_max(list_transform(
                      list_distinct(words),
                      u -> len(list_filter(words, x -> x = u)))) * 5 <= len(words)
              AND n_letters >= len(words) * 3
              AND n_letters <= len(words) * 8
        ), deduped AS (
            SELECT doc_id, lang, n_tokens
            FROM gated
            QUALIFY row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) = 1
        ), sampled AS (
            SELECT doc_id, lang, n_tokens
            FROM deduped
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                        || ':curate-v1'), 1, 8)) AS BIGINT) % 100
                  < CASE WHEN lang = 'en' THEN 60 ELSE 90 END
        ), packed AS (
            SELECT doc_id, lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS tok_before
            FROM sampled
        )
        SELECT doc_id, lang, n_tokens,
               CAST(tok_before // 2048 AS BIGINT) AS pack_id
        FROM packed
    """,
    description="End-to-end curation pipeline as one plan: C4 gate -> "
    "exact dedup (keep-first) -> per-language hash sample (en 60%, "
    "else 90%) -> 2048-token packing. Shows the curation operators "
    "compose declaratively; integer-exact at every stage so the "
    "composition hash-matches. Packing uses the two-pass parallel "
    "prefix sum — no single-partition exchange under any Window.",
    tags=["llm-pipeline", "dedup", "sampling", "window", "composition"],
)
def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words).cast("long")
    n_letters = F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
    top_count = F.array_max(
        F.transform(
            F.array_distinct(words),
            lambda u: F.size(F.filter(words, lambda x: x == u)),
        )
    ).cast("long")
    keep = (
        (n >= 20)
        & (F.array_contains(words, "the") | F.array_contains(words, "a"))
        & (top_count * 5 <= n)
        & (n_letters >= n * 3)
        & (n_letters <= n * 8)
    )
    gated = d.filter(keep).select("doc_id", "lang", "text", n.alias("n_tokens"))
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":curate-v1"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 60).otherwise(90)
    sampled = deduped.filter(bucket < rate)
    packed = ordered_prefix_sum(sampled, "doc_id", "n_tokens", out_col="tok_before")
    return packed.select(
        "doc_id", "lang", "n_tokens", F.expr("tok_before div 2048").alias("pack_id")
    )


@register(
    "curation_pipeline_v2",
    # The e2e pipeline with the CCNet LM-perplexity gate composed in
    # (VERDICT r8 task 7): C4 quality gate -> exact dedup -> unigram-LM
    # cross-entropy keep/drop (doc_lm_cross_entropy's math: Laplace-
    # smoothed corpus LM, exact nano-nat ln terms, keep iff mean xent
    # <= 9 nats — Wenzek et al. 2020's standard ordering puts the LM
    # filter after dedup) -> per-language hash sample -> 2048-token
    # packing. The LM trains on the FULL corpus (the gate judges
    # every doc against the same model regardless of upstream stages),
    # and its keep set is doc-keyed — one row per doc, a semi-join at
    # any scale. Still integer-exact end to end.
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, u.w AS word
            FROM documents,
                 unnest(string_split_regex(trim(text), '\s+')) AS u(w)
        ), corpus AS (
            SELECT word, COUNT(*) AS c FROM tok GROUP BY 1
        ), tot AS (
            SELECT SUM(c) AS t, COUNT(*) AS v FROM corpus
        ), rt AS (
            SELECT tok.doc_id,
                   (CAST(tot.t + tot.v AS DOUBLE)
                    / CAST(corpus.c + 1 AS DOUBLE)) AS inv_p
            FROM tok JOIN corpus USING (word), tot
        ), terms AS (
            SELECT doc_id, {_XENT_TERM_SQL} AS nano FROM rt
        ), lm AS (
            SELECT doc_id FROM terms GROUP BY doc_id
            HAVING SUM(nano) <= COUNT(*) * 9000000000
        ), w AS (
            SELECT doc_id, lang, text,
                   string_split_regex(trim(text), '\s+') AS words,
                   length(replace(trim(text), ' ', '')) AS n_letters
            FROM documents
        ), gated AS (
            SELECT doc_id, lang, text,
                   CAST(len(words) AS BIGINT) AS n_tokens
            FROM w
            WHERE len(words) >= 20
              AND (list_contains(words, 'the') OR list_contains(words, 'a'))
              AND list_max(list_transform(
                      list_distinct(words),
                      u -> len(list_filter(words, x -> x = u)))) * 5 <= len(words)
              AND n_letters >= len(words) * 3
              AND n_letters <= len(words) * 8
        ), deduped AS (
            SELECT doc_id, lang, n_tokens
            FROM gated
            QUALIFY row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) = 1
        ), lmkept AS (
            SELECT d.doc_id, d.lang, d.n_tokens
            FROM deduped d JOIN lm USING (doc_id)
        ), sampled AS (
            SELECT doc_id, lang, n_tokens
            FROM lmkept
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                        || ':curate-v1'), 1, 8)) AS BIGINT) % 100
                  < CASE WHEN lang = 'en' THEN 60 ELSE 90 END
        ), packed AS (
            SELECT doc_id, lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS tok_before
            FROM sampled
        )
        SELECT doc_id, lang, n_tokens,
               CAST(tok_before // 2048 AS BIGINT) AS pack_id
        FROM packed
    """,
    description="Curation pipeline v2 — the e2e composition with the "
    "CCNet unigram-LM cross-entropy gate between dedup and sampling: "
    "C4 gate -> exact dedup -> LM keep/drop at 9 nats (exact nano-nat "
    "integer comparison, model trained on the full corpus) -> "
    "per-language hash sample -> 2048-token packing. The LM keep set "
    "is one row per doc (semi-join at any scale); every stage stays "
    "integer-exact so the five-stage composition hash-matches.",
    tags=["llm-pipeline", "dedup", "quality", "sampling", "composition"],
)
def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # LM gate keep set over the FULL corpus (doc_lm_cross_entropy's
    # exact math; one explode + word-keyed join + doc agg)
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    corpus = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = corpus.agg(F.sum("c").alias("t"), F.count(F.lit(1)).alias("v"))
    terms = (
        tok.join(corpus, "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                (F.col("t") + F.col("v")).cast("double")
                / (F.col("c") + 1).cast("double")
            ).alias("inv_p"),
        )
        # Column twin of _XENT_TERM_SQL (r12): compact det_ln tree
        .select(
            "doc_id",
            F.floor(det_ln_col(F.col("inv_p")) * F.lit(1e9) + F.lit(0.5))
            .cast("long").alias("nano"),
        )
    )
    lm_keep = (
        terms.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("nano").alias("s"))
        .filter(F.col("s") <= F.col("n") * F.lit(9000000000))
        .select("doc_id")
    )
    # C4 gate + dedup (identical to curation_pipeline_e2e)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words).cast("long")
    n_letters = F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
    top_count = F.array_max(
        F.transform(
            F.array_distinct(words),
            lambda u: F.size(F.filter(words, lambda x: x == u)),
        )
    ).cast("long")
    keep = (
        (n >= 20)
        & (F.array_contains(words, "the") | F.array_contains(words, "a"))
        & (top_count * 5 <= n)
        & (n_letters >= n * 3)
        & (n_letters <= n * 8)
    )
    gated = d.filter(keep).select("doc_id", "lang", "text", n.alias("n_tokens"))
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    lmkept = deduped.join(lm_keep, "doc_id", "left_semi")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":curate-v1"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 60).otherwise(90)
    sampled = lmkept.filter(bucket < rate)
    packed = ordered_prefix_sum(sampled, "doc_id", "n_tokens", out_col="tok_before")
    return packed.select(
        "doc_id", "lang", "n_tokens", F.expr("tok_before div 2048").alias("pack_id")
    )


@register(
    "quantile_rank_embeddings",
    # Per-dimension quantile ranks (the rank stage of quantile
    # normalization, a standard feature-preprocessing op): rank each
    # vector's value within its dimension, emit the uniform quantile
    # rank/(n+1) in integer 1e-6 units. The naive Spark form —
    # row_number() over (PARTITION BY pos ORDER BY val) — is only as
    # parallel as the DIMENSION COUNT (32 tasks for 32 dims, the
    # low-cardinality window scale-killer); this uses the grouped
    # two-pass prefix scan (operators/prefix.py), which is
    # dims x time-buckets parallel and bit-identical because the rank
    # is a pure integer count. Oracle = the plain window form.
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS pos,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS val_u
            FROM embeddings
        ), n AS (
            SELECT COUNT(*) AS n FROM embeddings
        ), r AS (
            SELECT vec_id, pos, val_u,
                   row_number() OVER (PARTITION BY pos ORDER BY val_u, vec_id)
                       AS rnk
            FROM e
        )
        SELECT CAST(r.vec_id AS BIGINT) AS vec_id, r.pos, r.val_u,
               CAST(r.rnk AS BIGINT) AS rnk,
               CAST((r.rnk * 1000000) // (n.n + 1) AS BIGINT) AS q_u
        FROM r CROSS JOIN n
    """,
    description="Quantile-rank normalization of embedding columns via "
    "the grouped parallel prefix scan — per-(dimension, value-bucket) "
    "windows with triangular carry compose, so parallelism is "
    "dims x buckets instead of dims. Integer ranks -> hash-exact.",
    tags=["ml-prep", "window", "vector"],
)
def q_quantile_rank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import grouped_prefix_stats

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.floor(F.col("col") * 1000000 + F.lit(0.5)).cast("long").alias("val_u"),
    )
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    ranked = grouped_prefix_stats(
        e, "pos", "val_u", "vec_id", "val_u", sum_col="_s", cnt_col="_rank0"
    )
    return (
        ranked.join(F.broadcast(n))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            "pos",
            "val_u",
            (F.col("_rank0") + 1).cast("long").alias("rnk"),
            F.expr("((_rank0 + 1) * 1000000) div (n + 1)").cast("long").alias("q_u"),
        )
    )


@register(
    "ann_simhash_topk",
    oracle=None,
    description="Approximate cosine top-k via banded vector SimHash "
    "(operators/similarity.simhash_vector_topk) — the engine's own "
    "pure-Catalyst ANN tier: 64 grouped-sum hyperplane projections, "
    "an EQUI-join on adaptive-width signature bands (band_bits ~ "
    "log2(n) keeps expected candidates per query constant), exact "
    "cosine re-rank on candidates only. No MLlib, no UDFs, no "
    "explode-distinct-UDF overhead; recall concentrated on "
    "near-duplicate neighbors (tests). Rows-only: band membership is "
    "not SQL-expressible.",
    tags=["similarity", "simhash", "vector"],
)
def q_ann_simhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import simhash_vector_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    out = simhash_vector_topk(
        emb, qs, "vec_id", "embedding", k=10, queries_subset=True
    )
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        sround(F.col("cosine"), 6).alias("cosine"),
        F.col("rn").cast("long"),
    )


@register(
    "dedup_rapid_repeats",
    # Rapid-repeat suppressor, batch form
    # (dropDuplicatesWithinWatermark's time-tolerance idea, made
    # window-deterministic): an event is a "rapid repeat" if it lands
    # within 5 seconds of the PREVIOUS event of the same
    # (user, event_type) — the double-fire / retry signature. Lag
    # comparison in integer micros per high-cardinality key; the
    # per-type keep ledger is the driver-visible evidence.
    oracle="""
        WITH e AS (
            SELECT event_type, user_id, epoch_us(ts) AS us FROM events
        ), l AS (
            SELECT event_type,
                   us - LAG(us) OVER (
                       PARTITION BY user_id, event_type ORDER BY us
                   ) AS gap_us
            FROM e
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= 5000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN gap_us < 5000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed
        FROM l GROUP BY event_type
    """,
    description="Rapid-repeat suppression ledger (batch twin of the "
    "streaming dedup-within-tolerance path): per-(user, type) lag in "
    "integer micros, events within 5 s of their predecessor counted as "
    "suppressed. One high-cardinality-keyed sort shuffle; fully "
    "parallel at 100 TB.",
    tags=["dedup", "window", "streaming-twin"],
)
def q_dedup_rapid_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy(us)
    l = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return l.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(
            F.when(
                F.col("gap_us").isNull() | (F.col("gap_us") >= 5_000_000), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("gap_us") < 5_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_suppressed"),
    )


@register(
    "fuzzy_name_pairs_ed1",
    # Record-linkage fuzzy join: all customer-name pairs within edit
    # distance 1 (the typo'd-account-name shape). The Spark plan uses
    # FastSS deletion-neighborhood blocking (Bocek 2007): each name
    # emits itself plus its |s| single-character-deletion variants,
    # and two names are candidates iff they SHARE a variant —
    # substitution pairs meet at the deletion of the differing
    # position, insertion/deletion pairs meet at the shorter string
    # itself. That turns the n² all-pairs levenshtein into an
    # equi-join on variant strings (|s|+1 rows per name), then exact
    # levenshtein verification on candidates only. The DuckDB oracle
    # IS the naive all-pairs computation — the hash match proves the
    # blocking is lossless for ED<=1.
    oracle="""
        WITH n AS (
            SELECT DISTINCT c_name AS name FROM customer
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        FROM n a JOIN n b ON a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 1
    """,
    description="Edit-distance-1 fuzzy name join via FastSS deletion "
    "neighborhoods: |s|+1 variant rows per name, candidates from a "
    "variant equi-join (no all-pairs), exact levenshtein verify. "
    "Oracle is the naive n² computation — hash match machine-checks "
    "blocking losslessness. At 100 TB the variant join shuffles "
    "O(n·|s|) short strings; the verify touches candidates only.",
    tags=["join", "fuzzy", "record-linkage"],
)
def q_fuzzy_name_pairs_ed1(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    names = cust.select(F.col("c_name").alias("name")).distinct()
    # Deletion-neighborhood blocking + skew-guarded in-group pair
    # expansion, shared with entity_resolution_e2e (_ed1_candidate_
    # pairs: grouped pass instead of a variant self-join [r12], pair
    # generation as two pipelined generates so a hot variant never
    # materializes its O(g²) pair array in one row [r13]).
    cand = _ed1_candidate_pairs(names)
    # Verify BEFORE deduplicating: a pair can meet under several shared
    # variants (e.g. transpositions at distance 2), so the distinct is
    # required — but running levenshtein first means the dedup shuffle
    # carries only true ED<=1 matches instead of every candidate.
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 1)
        .select("name_a", "name_b", "dist")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Round-5b: span-level dedup + collocations
# ---------------------------------------------------------------------------


@register(
    "longest_dup_span_pairs",
    # Span-level exact-substring dedup (Lee et al. 2021): the longest
    # shared TOKEN SPAN per document pair, not just "do they share a
    # 5-gram" (duplicate_chunks_across_docs). k consecutive shared
    # 8-grams on one alignment diagonal (pos_a - pos_b constant) = a
    # shared span of k+7 tokens — the suffix-array scan as a
    # positional-gram join + gaps-and-islands run length. Shuffle key
    # is the md5 digest of the gram (32 chars), never document text;
    # grams in >50 docs are dropped first (the jaccard_candidates DF
    # cap: boilerplate has no alignment value and fans out
    # quadratically).
    oracle=r"""
        WITH w AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), e0 AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   md5(array_to_string(t[i:i+7], ' ')) AS key
            FROM w, unnest(range(1, len(t) - 6)) AS r(i)
            WHERE len(t) >= 8
        ), hot AS (
            SELECT key FROM e0
            GROUP BY key HAVING COUNT(DISTINCT doc_id) > 50
        ), e AS (
            SELECT * FROM e0 WHERE key NOT IN (SELECT key FROM hot)
        ), pairs AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   x.pos AS pa, x.pos - y.pos AS diag
            FROM e x JOIN e y USING (key)
            WHERE x.doc_id < y.doc_id
        ), isl AS (
            SELECT doc_a, doc_b, diag,
                   pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                           ORDER BY pa) AS grp
            FROM pairs
        ), runs AS (
            SELECT doc_a, doc_b, diag, grp, COUNT(*) AS run
            FROM isl GROUP BY 1, 2, 3, 4
        )
        SELECT CAST(doc_a AS BIGINT) AS doc_a,
               CAST(doc_b AS BIGINT) AS doc_b,
               CAST(MAX(run) + 7 AS BIGINT) AS max_span_tokens,
               CAST(SUM(run) AS BIGINT) AS n_shared_grams
        FROM runs GROUP BY 1, 2
        HAVING MAX(run) + 7 >= 20
    """,
    description="Longest shared token span per doc pair (substring-"
    "level dedup, Lee et al. 2021): positional 8-gram md5 join, "
    "diagonal gaps-and-islands run length, DF-capped hot grams. "
    "Span >= 20 tokens. The pair-granular refinement of "
    "duplicate_chunks_across_docs.",
    tags=["dedup", "text", "llm-pipeline"],
)
def q_longest_dup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import longest_duplicate_spans

    out = longest_duplicate_spans(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=8,
        min_span=20,
        max_gram_df=50,
    )
    return out.select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        "max_span_tokens",
        "n_shared_grams",
    )


@register(
    "decontam_shared_span",
    # Exact-substring decontamination (Lee et al. 2022 §4.1, public):
    # the span-level upgrade of benchmark_contamination — per
    # (training doc, benchmark doc) pair, the LONGEST shared token
    # span, not just "how many grams collide". Benchmark split is the
    # same deterministic pseudo-benchmark (doc_id % 50 == 0). The
    # Spark side gates the positional join with a winnowing prefilter
    # (Schleimer 2003) that is LOSSLESS for min_span >= n+w-1 = 11
    # (every reported span >= 12 guarantees a shared window-min
    # fingerprint), so this oracle can skip the prefilter and still
    # be exact — the same bounded-naive-oracle pattern as
    # longest_dup_span_pairs.
    oracle=r"""
        WITH w AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), e0 AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   md5(array_to_string(t[i:i+7], ' ')) AS key
            FROM w, unnest(range(1, len(t) - 6)) AS r(i)
            WHERE len(t) >= 8
        ), hot AS (
            SELECT key FROM e0
            GROUP BY key HAVING COUNT(DISTINCT doc_id) > 50
        ), e AS (
            SELECT * FROM e0 WHERE key NOT IN (SELECT key FROM hot)
        ), pairs AS (
            SELECT x.doc_id AS train_doc, y.doc_id AS bench_doc,
                   x.pos AS pa, x.pos - y.pos AS diag
            FROM e x JOIN e y USING (key)
            WHERE x.doc_id % 50 <> 0 AND y.doc_id % 50 = 0
        ), isl AS (
            SELECT train_doc, bench_doc, diag,
                   pa - ROW_NUMBER() OVER (PARTITION BY train_doc,
                                           bench_doc, diag
                                           ORDER BY pa) AS grp
            FROM pairs
        ), runs AS (
            SELECT train_doc, bench_doc, diag, grp, COUNT(*) AS run
            FROM isl GROUP BY 1, 2, 3, 4
        )
        SELECT CAST(train_doc AS BIGINT) AS train_doc,
               CAST(bench_doc AS BIGINT) AS bench_doc,
               CAST(MAX(run) + 7 AS BIGINT) AS max_span_tokens,
               CAST(SUM(run) AS BIGINT) AS n_shared_grams
        FROM runs GROUP BY 1, 2
        HAVING MAX(run) + 7 >= 12
    """,
    description="Suffix-style exact-substring decontamination (Lee et "
    "al. 2022): longest shared token span per (training doc, benchmark "
    "doc) pair >= 12 tokens, via cross-set positional 8-gram alignment "
    "gated by a provably-lossless winnowing prefilter "
    "(operators/dedup.py cross_set_shared_spans). At 100 TB the "
    "benchmark gram/fingerprint side is tiny and broadcastable; the "
    "fingerprint join touches ~1/4 of the gram keys.",
    tags=["dedup", "text", "llm-pipeline", "decontamination"],
)
def q_decontam_shared_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cross_set_shared_spans

    docs = load_table(spark, sf_dir, "documents")
    out = cross_set_shared_spans(
        docs,
        bench_pred=(F.col("doc_id") % 50 == 0),
        n=8,
        min_span=12,
        max_gram_df=50,
        winnow_w=4,
    )
    return out.select(
        F.col("train_doc").cast("long"),
        F.col("bench_doc").cast("long"),
        "max_span_tokens",
        "n_shared_grams",
    )


@register(
    "stream_decontam_replay",
    # Batch replay of the STREAMING decontamination gate
    # (streaming/decontam.py): per training doc, how many of its
    # winnowed fingerprints (window-min of 32-bit md5 8-gram hashes
    # over w=4 positions, Schleimer 2003) collide with the benchmark
    # suite's fingerprint union. The oracle reproduces the identical
    # winnow math in DuckDB list functions, so a hash match pins the
    # pure-hashlib kernel == DuckDB md5 — the same tri-engine
    # discipline as stream_neardup_replay. The gate's recall contract:
    # every pair decontam_shared_span reports (span >= 12 >= n+w-1)
    # has n_hits >= 1 here (pinned in tests).
    oracle=r"""
        WITH w AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), h AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 11 THEN
                       list_transform(
                           range(1, len(t) - 6),
                           i -> ('0x' || substr(md5(
                                    array_to_string(t[i:i+7], ' ')
                                ), 1, 8))::BIGINT)
                   ELSE [] END AS hs
            FROM w
        ), fp AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(hs) >= 4 THEN
                       list_transform(range(1, len(hs) - 2),
                                      i -> list_min(hs[i:i+3]))
                   ELSE [] END) AS fps
            FROM h
        ), bench AS (
            SELECT DISTINCT u.fp FROM fp, unnest(fps) AS u(fp)
            WHERE doc_id % 50 = 0
        ), tr AS (
            SELECT doc_id, fps FROM fp WHERE doc_id % 50 <> 0
        ), hits AS (
            SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM tr, unnest(fps) AS u(fp)
            JOIN bench ON u.fp = bench.fp
            GROUP BY tr.doc_id
        )
        SELECT CAST(tr.doc_id AS BIGINT) AS doc_id,
               CAST(len(tr.fps) AS BIGINT) AS n_fps,
               COALESCE(h2.n_hits, 0) AS n_hits,
               CAST(CASE WHEN COALESCE(h2.n_hits, 0) > 0
                    THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        FROM tr LEFT JOIN hits h2 ON tr.doc_id = h2.doc_id
    """,
    description="Streaming decontamination gate, batch-replay form: "
    "the stateless broadcast winnow-fingerprint check every arriving "
    "training doc gets against the FIXED benchmark suite "
    "(streaming/decontam.py — the inverse of the near-dup index's "
    "growing reference set). Candidate gate, not a span measure: recall is "
    "guaranteed for spans >= n+w-1 by the winnowing bound; flagged "
    "docs route to decontam_shared_span's exact alignment. Zero "
    "shuffle, zero state — embarrassingly parallel map work.",
    tags=["dedup", "decontamination", "streaming", "llm-pipeline",
          "oracle-surrogate"],
)
def q_stream_decontam_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.decontam import benchmark_fingerprint_set, flag_contaminated

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    bench_fps = benchmark_fingerprint_set(docs.filter(F.col("doc_id") % 50 == 0))
    out = flag_contaminated(docs.filter(F.col("doc_id") % 50 != 0), bench_fps)
    return out.select(
        "doc_id",
        "n_fps",
        "n_hits",
        F.col("contaminated").cast("long").alias("contaminated"),
    )



@register(
    "semdedup_embeddings",
    # Rows-only: cluster assignment comes from MLlib-free but still
    # driver-trained Lloyd k-means (deterministic, yet not SQL-
    # expressible); correctness is pinned by the planted-duplicate
    # pytest (tests/test_extensions.py) instead.
    oracle=None,
    description="SemDeDup (Abbas et al. 2023): semantic dedup by IVF "
    "coarse clustering + cell-local cosine >= 0.97, keep-first. The "
    "quadratic check is confined to cluster blocks — O(sum c^2), not "
    "O(N^2); exact duplicates provably share a cell. Returns kept "
    "(vec_id, cell).",
    tags=["dedup", "similarity", "llm-pipeline"],
)
def q_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semdedup

    em = load_table(spark, sf_dir, "embeddings")
    kept = semdedup(em, "vec_id", "embedding", threshold=0.97)
    return kept.select(F.col("vec_id").cast("long"), F.col("cell").cast("long"))


@register(
    "levenshtein_parity_pairs",
    # Built-in edit-distance parity probe: Spark's levenshtein() and
    # DuckDB's levenshtein() implement the same textbook DP, so the
    # full integer distance matrix over a bounded deterministic slice
    # is hash-checkable — pinning the BUILT-IN's semantics that the
    # FastSS deletion-neighborhood tier (fuzzy_name_pairs_ed1) relies
    # on at scale. The md5-ordered 200-part slice is the bounded
    # oracle-tier discipline of lof_exact_quantized; brand blocking
    # keeps the pair space at sum-of-block-squares.
    oracle="""
        WITH s AS (
            SELECT p_partkey, p_brand, p_name
            FROM part
            ORDER BY md5(CAST(p_partkey AS VARCHAR)), p_partkey
            LIMIT 200
        )
        SELECT CAST(a.p_partkey AS BIGINT) AS id_a,
               CAST(b.p_partkey AS BIGINT) AS id_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM s a JOIN s b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 12
    """,
    description="Edit-distance function parity (cross-engine "
    "levenshtein probe): brand-blocked part-name pairs over a "
    "deterministic md5-ordered 200-row slice, keeping pairs within "
    "distance 12 — the built-in DP distance both engines implement "
    "identically, verified integer-for-integer. The scale tier for "
    "fuzzy joins remains FastSS blocking (fuzzy_name_pairs_ed1); "
    "this pins the primitive it approximates.",
    tags=["string", "fuzzy", "oracle-surrogate"],
)
def q_levenshtein_parity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    s = (
        p.select("p_partkey", "p_brand", "p_name")
        .orderBy(F.md5(F.col("p_partkey").cast("string")), "p_partkey")
        .limit(200)
        .localCheckpoint(eager=True)
    )
    a, b = s.alias("a"), s.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").cast("long").alias("id_a"),
            F.col("b.p_partkey").cast("long").alias("id_b"),
            dist.cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 12)
    )


@register(
    "retrieval_eval_metrics",
    # Retrieval-quality metrics over the exact quantized-cosine
    # ranking (ann_exact_quantized's bit-deterministic math) with the
    # embeddings table's REAL labels as graded relevance (rel = 1 iff
    # neighbor label == query label): NDCG@10 (Järvelin & Kekäläinen
    # 2002), MRR, Precision@10, Recall@10 per query. Exactness: the
    # log2 discounts go through the deterministic ln and floor to
    # exact nano-gains BEFORE the per-query sums (order-free); IDCG
    # uses the SAME floored gain grid over ideal positions
    # 1..min(R,10); every final metric is one int/int division.
    # Completes the eval family: classification (threshold_sweep_pr),
    # ranking (roc_auc_exact), calibration (ece), retrieval (here).
    # The exact tier is the constant-cost verification path (10
    # queries x 500 candidates); the ANN tiers are the scale path.
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                                 AS BIGINT)) AS q
            FROM embeddings WHERE vec_id < 500
        ), nrm AS (
            SELECT vec_id, label, q,
                   CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
                       AS norm_u
            FROM e
        ), p AS (
            SELECT a.vec_id AS query_id, a.label AS query_label,
                   b.vec_id AS neighbor_id,
                   CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
                   CAST(CAST(list_sum(list_transform(
                           list_zip(a.q, b.q), x -> x[1] * x[2]))
                        AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(a.norm_u * b.norm_u AS DOUBLE)) AS cos_exact
            FROM nrm a JOIN nrm b
              ON a.vec_id < 10 AND a.vec_id <> b.vec_id
        ), ranked AS (
            SELECT query_id, query_label, rel,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_exact DESC, neighbor_id
                   ) AS BIGINT) AS rn
            FROM p
        ), gains AS (
            SELECT query_id, query_label, rel, rn,
                   CAST(rn + 1 AS DOUBLE) AS rnd
            FROM ranked
        ), perq AS (
            SELECT query_id, query_label,
                   SUM(rel) AS n_relevant,
                   SUM(CASE WHEN rn <= 10 THEN rel ELSE 0 END) AS hits_10,
                   SUM(CASE WHEN rn <= 10 THEN {_NDCG_GAIN_SQL}
                            ELSE 0 END) AS dcg_nano,
                   MIN(CASE WHEN rel = 1 THEN rn END) AS first_rel_rank
            FROM gains GROUP BY 1, 2
        ), spine AS (
            SELECT CAST(pos AS BIGINT) AS pos,
                   CAST(pos + 1 AS DOUBLE) AS posd
            FROM range(1, 11) t(pos)
        ), ideal AS (
            SELECT perq.query_id,
                   SUM({_NDCG_IDEAL_SQL}) AS idcg_nano
            FROM perq JOIN spine
              ON spine.pos <= least(perq.n_relevant, 10)
            GROUP BY 1
        )
        SELECT perq.query_id,
               CAST(perq.query_label AS BIGINT) AS query_label,
               CAST(perq.n_relevant AS BIGINT) AS n_relevant,
               CAST(perq.hits_10 AS BIGINT) AS hits_10,
               CAST(perq.dcg_nano AS BIGINT) AS dcg_nano,
               CAST(COALESCE(ideal.idcg_nano, 0) AS BIGINT) AS idcg_nano,
               {sround_sql(
                   'CASE WHEN COALESCE(ideal.idcg_nano, 0) = 0 THEN 0e0 '
                   'ELSE CAST(perq.dcg_nano AS DOUBLE) '
                   '/ CAST(ideal.idcg_nano AS DOUBLE) END', 6)} AS ndcg_10,
               {sround_sql('CAST(perq.hits_10 AS DOUBLE) / 1e1', 6)}
                   AS precision_10,
               {sround_sql(
                   'CASE WHEN perq.n_relevant = 0 THEN 0e0 '
                   'ELSE CAST(perq.hits_10 AS DOUBLE) '
                   '/ CAST(perq.n_relevant AS DOUBLE) END', 6)} AS recall_10,
               {sround_sql(
                   'CASE WHEN perq.first_rel_rank IS NULL THEN 0e0 '
                   'ELSE 1e0 / CAST(perq.first_rel_rank AS DOUBLE) END', 6)}
                   AS mrr
        FROM perq LEFT JOIN ideal ON perq.query_id = ideal.query_id
    """,
    description="NDCG@10 / MRR / Precision@10 / Recall@10 per query "
    "over the exact quantized-cosine ranking, relevance = shared "
    "embedding label: log2 discounts through the deterministic ln, "
    "floored to nano-gains before order-free sums, IDCG on the same "
    "gain grid, each metric one exact division. The retrieval leg of "
    "the evaluation family; constant-cost verification tier anchoring "
    "the ANN tiers' ranking quality, not just their recall.",
    tags=["ml", "evaluation", "similarity", "ann"],
)
def q_retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
    )
    norm = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda a, v: a + v
    )
    base = emb.select("vec_id", "label", quant.alias("q")).withColumn(
        "norm_u", norm
    )
    a = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("q").alias("_qa"),
        F.col("norm_u").alias("_na"),
    )
    b = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("_lb"),
        F.col("q").alias("_qb"),
        F.col("norm_u").alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with("_qa", "_qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    p = (
        a.join(b, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_exact",
            dot.cast("double")
            / F.sqrt((F.col("_na") * F.col("_nb")).cast("double")),
        )
        .withColumn(
            "rel",
            F.when(F.col("query_label") == F.col("_lb"), 1).otherwise(0),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_exact").desc(), "neighbor_id"
    )
    gains = (
        p.select(
            "query_id", "query_label", "rel",
            F.row_number().over(wr).cast("long").alias("rn"),
        )
        .withColumn("rnd", (F.col("rn") + 1).cast("double"))
        # the det_ln gain is projected BEFORE the aggregate (r12:
        # through the compact det_ln_col twin of _NDCG_GAIN_SQL)
        .withColumn(
            "gain_nano",
            F.floor(
                F.col("rel").cast("double") * F.lit(6.93147180559945e8)
                / det_ln_col(F.col("rnd")) + F.lit(0.5)
            ).cast("long"),
        )
    )
    perq = gains.groupBy("query_id", "query_label").agg(
        F.sum("rel").alias("n_relevant"),
        F.sum(F.when(F.col("rn") <= 10, F.col("rel")).otherwise(0)).alias(
            "hits_10"
        ),
        F.sum(
            F.when(F.col("rn") <= 10, F.col("gain_nano")).otherwise(0)
        ).alias("dcg_nano"),
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_rel_rank"),
        # NOT pinned (r12): checkpointing perq to dedupe its two
        # consumers measured SLOWER (3.15 vs 2.67 s isolated) — the
        # duplicated subtrees overlap inside one job at this size.
    )
    spine = spark.range(1, 11).select(
        F.col("id").alias("pos"), (F.col("id") + 1).cast("double").alias("posd")
    ).withColumn(
        # Column twin of _NDCG_IDEAL_SQL (r12)
        "ideal_gain_nano",
        F.floor(
            F.lit(6.93147180559945e8) / det_ln_col(F.col("posd")) + F.lit(0.5)
        ).cast("long"),
    )
    ideal = (
        perq.join(
            F.broadcast(spine),
            spine["pos"] <= F.least(F.col("n_relevant"), F.lit(10)),
        )
        .groupBy("query_id")
        .agg(F.sum("ideal_gain_nano").alias("idcg_nano"))
    )
    return (
        perq.join(ideal, "query_id", "left")
        .select(
            "query_id",
            F.col("query_label").cast("long"),
            F.col("n_relevant").cast("long"),
            F.col("hits_10").cast("long"),
            F.col("dcg_nano").cast("long"),
            F.coalesce(F.col("idcg_nano"), F.lit(0)).cast("long").alias(
                "idcg_nano"
            ),
            sround(
                F.when(
                    F.coalesce(F.col("idcg_nano"), F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    F.col("dcg_nano").cast("double")
                    / F.col("idcg_nano").cast("double")
                ),
                6,
            ).alias("ndcg_10"),
            sround(F.col("hits_10").cast("double") / F.lit(10.0), 6).alias(
                "precision_10"
            ),
            sround(
                F.when(F.col("n_relevant") == 0, F.lit(0.0)).otherwise(
                    F.col("hits_10").cast("double")
                    / F.col("n_relevant").cast("double")
                ),
                6,
            ).alias("recall_10"),
            sround(
                F.when(F.col("first_rel_rank").isNull(), F.lit(0.0)).otherwise(
                    F.lit(1.0) / F.col("first_rel_rank").cast("double")
                ),
                6,
            ).alias("mrr"),
        )
    )


def _cooccurrence_baskets(li: DataFrame) -> DataFrame:
    """Pre-checkpoint basket builder (plan-guarded for 2-col pruning)."""
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


@register(
    "item_cooccurrence_similarity",
    # Item-item collaborative-filtering primitive (Sarwar et al. 2001;
    # the "customers also bought" table): per part, the top-3 most
    # similar parts by co-occurrence cosine c_ab / sqrt(c_a * c_b)
    # over order baskets, plus lift c_ab*N/(c_a*c_b). Exactness: all
    # counts integer, cosine one division by the correctly-rounded
    # sqrt of an exact int64 product (the ann_exact_quantized trick),
    # lift per-factor double casts. Ranking is a pa-PARTITIONED window
    # (parallel by construction — never a global sort); the pa < 300
    # slice bounds the driver-facing output, the plan shape is
    # slice-free. Scale: basket pair expansion is the array-native
    # per-order form (no lineitem self-join), pair/item aggs key on
    # part ids.
    oracle="""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
            FROM lineitem GROUP BY 1
        ), pairs AS (
            SELECT u1.a AS pa, u2.b AS pb
            FROM baskets,
                 unnest(ps) AS u1(a), unnest(ps) AS u2(b)
            WHERE u1.a < u2.b
        ), co AS (
            SELECT pa, pb, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2
        ), items AS (
            SELECT a AS part, COUNT(*) AS c
            FROM (SELECT DISTINCT l_orderkey, l_partkey AS a FROM lineitem)
            GROUP BY 1
        ), n AS (
            SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem
        ), sym AS (
            SELECT pa AS item, pb AS other, c_ab FROM co
            UNION ALL
            SELECT pb, pa, c_ab FROM co
        ), scored AS (
            SELECT sym.item, sym.other, sym.c_ab,
                   ia.c AS c_item, ib.c AS c_other,
                   CAST(sym.c_ab AS DOUBLE)
                   / sqrt(CAST(ia.c * ib.c AS DOUBLE)) AS cos_raw,
                   CAST(sym.c_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                   / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE)) AS lift_raw
            FROM sym
            JOIN items ia ON ia.part = sym.item
            JOIN items ib ON ib.part = sym.other, n
        )
        SELECT CAST(item AS BIGINT) AS item,
               CAST(other AS BIGINT) AS other,
               CAST(c_ab AS BIGINT) AS c_ab,
               floor(cos_raw * 1e6 + 0.5) / 1e6 AS cosine,
               floor(lift_raw * 1e6 + 0.5) / 1e6 AS lift,
               CAST(row_number() OVER (
                   PARTITION BY item ORDER BY cos_raw DESC, other
               ) AS BIGINT) AS rn
        FROM scored
        WHERE item < 300
        QUALIFY rn <= 3
    """,
    description="Item-item co-occurrence similarity (the 'also bought' "
    "recsys table): top-3 neighbors per part by exact-count cosine "
    "over order baskets, with lift — array-native basket pair "
    "expansion, part-keyed aggs, a partitioned ranking window, one "
    "correctly-rounded sqrt division per pair.",
    tags=["similarity", "analytics", "join"],
)
def q_item_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Pinned once: the former UNION-of-directions shape planned the
    # basket aggregate + pair explode TWICE and the item-count
    # aggregate twice more — 5 lineitem scans. Everything below
    # derives from this one scan + shuffle (r12: 5 scans -> 1).
    baskets = _cooccurrence_baskets(li).localCheckpoint(eager=True)
    pair_expr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ps"), i + 2, F.greatest(F.size("ps") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    co = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # ps is the distinct part set per order, so exploding it counts
    # each (order, part) once — identical to the former
    # distinct-then-count over lineitem; and n_orders (count of
    # distinct orderkeys) is just the basket row count.
    items = (
        baskets.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    ia = items.select(F.col("part").alias("pa"), F.col("c").alias("c_item"))
    ib = items.select(F.col("part").alias("pb"), F.col("c").alias("c_other"))
    # cosine and lift are symmetric in (pa, pb): score each undirected
    # pair ONCE, then explode the two directions — the former
    # UNION ALL pushed every pair through the joins twice. A pair can
    # emit a visible row only if one endpoint is < 300, so the
    # pre-join filter keeps the join input tight; the post-explode
    # filter drops the non-qualifying direction.
    scored = (
        co.filter((F.col("pa") < 300) | (F.col("pb") < 300))
        .join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "cos_raw",
            F.col("c_ab").cast("double")
            / F.sqrt((F.col("c_item") * F.col("c_other")).cast("double")),
        )
        .withColumn(
            "lift_raw",
            F.col("c_ab").cast("double") * F.col("n_orders").cast("double")
            / (F.col("c_item").cast("double") * F.col("c_other").cast("double")),
        )
    )
    both = scored.select(
        "c_ab", "cos_raw", "lift_raw",
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("item"), F.col("pb").alias("other")),
                F.struct(F.col("pb").alias("item"), F.col("pa").alias("other")),
            )
        ).alias("d"),
    ).select(
        F.col("d.item").alias("item"), F.col("d.other").alias("other"),
        "c_ab", "cos_raw", "lift_raw",
    )
    wr = Window.partitionBy("item").orderBy(F.col("cos_raw").desc(), "other")
    return (
        both.filter(F.col("item") < 300)
        .withColumn("rn", F.row_number().over(wr).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("item").cast("long"),
            F.col("other").cast("long"),
            F.col("c_ab").cast("long"),
            sround(F.col("cos_raw"), 6).alias("cosine"),
            sround(F.col("lift_raw"), 6).alias("lift"),
            "rn",
        )
    )
