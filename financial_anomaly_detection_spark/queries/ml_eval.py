"""ML kernels (ensemble/IForest/LOF/AE), evaluation metrics, drift/statistics, time-series, sampling.

Split from the monolithic queries.py (round 10) — pure move, zero
behavior change; registration side effects run at import via
``queries/__init__.py``. 64 registered queries.
"""

from __future__ import annotations

from .common import *  # noqa: F401,F403


@register(
    "deterministic_split",
    # md5 is identical across engines, so a hash-based train/val/test
    # assignment is oracle-checkable AND stable across any cluster
    # layout — the reproducible-split pipeline staple.
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CASE
                   WHEN bucket < 80 THEN 'train'
                   WHEN bucket < 90 THEN 'val'
                   ELSE 'test'
               END AS split
        FROM (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':split-v1'), 1, 8)) AS BIGINT) % 100 AS bucket
            FROM documents
        )
    """,
    description="Deterministic content-hash split (training-data pipeline "
    "staple): md5(doc_id || salt) buckets into 80/10/10 train/val/test — "
    "reproducible on any cluster layout, no RNG state.",
    tags=["sampling", "split"],
)
def q_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split-v1"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return docs.select(
        F.col("doc_id").cast("long"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "tfidf_top_terms",
    oracle=None,
    description="Per-document top-3 TF-IDF terms (§2.10 text "
    "vectorization: CountVectorizer + IDF, sparse vector unpacked via "
    "posexplode + broadcast vocabulary join). Rows-only: MLlib's IDF "
    "smoothing constant is engine-specific.",
    tags=["text", "tfidf", "ml"],
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", top_k=3)
    return out.select(
        F.col("doc_id").cast("long"),
        "term",
        sround(F.col("tfidf"), 6).alias("tfidf"),
        F.col("rank").cast("long"),
    )


# ---------------------------------------------------------------------------
# ML scoring queries (§2.7) — rows-only checks: anomaly scores are not
# SQL-expressible (driver contract allows omitting the oracle).
# ---------------------------------------------------------------------------


@register(
    "ml_iforest_embeddings",
    oracle=None,
    description="M4-M5: from-scratch Isolation Forest (Liu et al. 2008) — "
    "driver-built trees on a bounded ψ-sample, broadcast + vectorized "
    "pandas_udf scoring over the embedding vectors. Deterministic (seed 42).",
    tags=["ml", "iforest"],
)
def q_ml_iforest_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.iforest import IsolationForestModel

    emb = load_table(spark, sf_dir, "embeddings")
    model = IsolationForestModel(n_estimators=100, seed=42).fit(emb, "embedding")
    return emb.select(
        F.col("vec_id").cast("long"),
        sround(model.score_col(emb, "embedding"), 6).alias("iforest_score"),
    )


@register(
    "ml_lof_embeddings",
    oracle=None,
    description="M6-M7: LOF novelty scoring (Breunig et al. 2000) with the "
    "intended input-dependent semantics (the reference's score_lof ignores "
    "its input — model_wrapper.py:33-42, bug not replicated). Broadcast "
    "reference set, BLAS-batch kNN in a pandas_udf.",
    tags=["ml", "lof"],
)
def q_ml_lof_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.lof import LOFNoveltyModel

    emb = load_table(spark, sf_dir, "embeddings")
    model = LOFNoveltyModel(n_neighbors=20, seed=42).fit(emb, "embedding")
    return emb.select(
        F.col("vec_id").cast("long"),
        sround(model.lof_col(emb, "embedding"), 6).alias("lof"),
    )


@register(
    "ml_reconstruction_embeddings",
    oracle=None,
    description="M8-M10: PCA reconstruction-error scorer (the linear-"
    "autoencoder engine operator, SURVEY.md M8 option (a)): bounded-sample "
    "covariance fit, per-batch matmul scoring, P97.5 threshold (M9).",
    tags=["ml", "reconstruction"],
)
def q_ml_reconstruction_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.reconstruction import ReconstructionScorer

    emb = load_table(spark, sf_dir, "embeddings")
    model = ReconstructionScorer(k=8).fit(emb, "embedding")
    return emb.select(
        F.col("vec_id").cast("long"),
        sround(model.mse_col(emb, "embedding"), 6).alias("reconstruction_mse"),
        sround(model.score_col(emb, "embedding"), 6).alias("ae_score"),
    )


@register(
    "ml_autoencoder_embeddings",
    oracle=None,
    description="M8 option (b): faithful nonlinear autoencoder (numpy MLP, "
    "from-scratch Adam, 80/20 split, P97.5 threshold — the reference's "
    "TF 128-64-32-64-128 shape at engine scale: bounded driver-side fit, "
    "broadcast-weight pandas_udf scoring). Deterministic under seed 42.",
    tags=["ml", "autoencoder"],
)
def q_ml_autoencoder_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.autoencoder import AutoencoderScorer

    emb = load_table(spark, sf_dir, "embeddings")
    model = AutoencoderScorer(hidden=(32, 8, 32), epochs=20, seed=42).fit(emb, "embedding")
    return emb.select(
        F.col("vec_id").cast("long"),
        sround(model.mse_col(emb, "embedding"), 6).alias("reconstruction_mse"),
        sround(model.score_col(emb, "embedding"), 6).alias("ae_score"),
    )


@register(
    "ml_ensemble_scores",
    oracle=None,
    description="§3.1 end-to-end: events -> 10-col feature row (M1-M3 MLlib "
    "pipeline) -> IForest + LOF + reconstruction scores -> rules -> fusion "
    "(F8-F11) -> risk bucket (F12): the reference's POST /score as one plan.",
    tags=["ml", "ensemble", "flagship"],
)
def q_ml_ensemble_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.ensemble import AnomalyEnsemble
    from ..ml.features import prepare_event_features

    ev = load_table(spark, sf_dir, "events")
    feature_df = prepare_event_features(ev)
    ens = AnomalyEnsemble(
        seed=42, rule_large_amount=EV_LARGE_AMOUNT, high_risk_amount=EV_HIGH_RISK_AMOUNT
    )
    # fit_transform scores off the pinned feature frame (no recompute
    # of the window features + MLlib transform) and returns an eagerly
    # checkpointed result with every pin released.
    return ens.fit_transform(feature_df, id_col="event_id")


@register(
    "ml_ensemble_scores_pretrained",
    oracle=None,
    description="Fit-free bench twin of ml_ensemble_scores (pattern: "
    "ml_fusion_scores_precomputed): the ensemble fits ONCE per "
    "(session, sf_dir) and is cached driver-side; repeat invocations "
    "measure only the scoring plan — MLlib transform + three "
    "Arrow-vectorized model kernels + rules + fusion + risk bucket. "
    "ml_ensemble_scores keeps the fit-inclusive e2e role.",
    tags=["ml", "ensemble", "bench-twin"],
)
def q_ml_ensemble_scores_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        ens, feature_df = _pretrained_ensemble(spark, sf_dir)
        return ens.transform(feature_df, id_col="event_id")

    return _pretrained_plan(spark, sf_dir, "ensemble", build)


# Per-kernel bench twins (VERDICT r8 task 4): the full pretrained twin
# regressed 1.57x within r8 with no way to say WHICH of the three Arrow
# kernels (IForest, LOF kNN, reconstruction) drifted — each twin below
# runs the SAME MLlib transform prefix plus exactly ONE kernel, so
# kernel_i cost ~= twin_i - base and the bench shows the split every
# round. Rows-only by design: scoring outputs are not SQL-expressible,
# and the score math itself is hash-pinned by lof_exact_quantized /
# ml_recon_mse_threshold / the ensemble parity tests.


@register(
    "ml_kernel_base_pretrained",
    oracle=None,
    description="Kernel-split baseline twin: MLlib feature transform + "
    "the pure-Catalyst rules tail, ZERO python kernels — the shared "
    "prefix cost that ml_kernel_{iforest,lof,ae}_pretrained each add "
    "one Arrow kernel to (VERDICT r8 task 4 instrumentation).",
    tags=["ml", "ensemble", "bench-twin"],
)
def q_ml_kernel_base_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scoring import rule_score

    def build():
        ens, feats = _pretrained_kernel_feats(spark, sf_dir)
        return feats.select(
            "event_id",
            sround(
                rule_score(
                    "amount", "channel", "location", "hour",
                    large_amount_t=ens.rule_large_amount,
                ),
                6,
            ).alias("rule_score"),
        )

    return _pretrained_plan(spark, sf_dir, "kernel_base", build)


@register(
    "ml_kernel_iforest_pretrained",
    oracle=None,
    description="Kernel-split twin: MLlib transform + ONLY the "
    "Isolation-Forest Arrow kernel (subtract ml_kernel_base_pretrained "
    "for the kernel's own cost).",
    tags=["ml", "ensemble", "bench-twin"],
)
def q_ml_kernel_iforest_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        ens, feats = _pretrained_kernel_feats(spark, sf_dir)
        return feats.select(
            "event_id",
            sround(ens.iforest.decision_col(feats), 6).alias("anomaly_score_iforest"),
        )

    return _pretrained_plan(spark, sf_dir, "kernel_iforest", build)


@register(
    "ml_kernel_lof_pretrained",
    oracle=None,
    description="Kernel-split twin: MLlib transform + ONLY the LOF kNN "
    "Arrow kernel (subtract ml_kernel_base_pretrained for the kernel's "
    "own cost).",
    tags=["ml", "ensemble", "bench-twin"],
)
def q_ml_kernel_lof_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        ens, feats = _pretrained_kernel_feats(spark, sf_dir)
        return feats.select(
            "event_id",
            sround(ens.lof.decision_col(feats), 6).alias("anomaly_score_lof"),
        )

    return _pretrained_plan(spark, sf_dir, "kernel_lof", build)


@register(
    "ml_kernel_ae_pretrained",
    oracle=None,
    description="Kernel-split twin: MLlib transform + ONLY the "
    "reconstruction-error Arrow kernel (subtract "
    "ml_kernel_base_pretrained for the kernel's own cost).",
    tags=["ml", "ensemble", "bench-twin"],
)
def q_ml_kernel_ae_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        ens, feats = _pretrained_kernel_feats(spark, sf_dir)
        return feats.select(
            "event_id",
            sround(ens.recon.score_col(feats), 6).alias("anomaly_score_ae"),
        )

    return _pretrained_plan(spark, sf_dir, "kernel_ae", build)


# ---------------------------------------------------------------------------
# Public accessors (driver contract shape)
# ---------------------------------------------------------------------------


@register(
    "ml_recon_mse_threshold",
    # Hash-checkable surrogate for the reconstruction scorer's math
    # (M5 row-wise MSE + M9/M10 percentile threshold -> anomaly flag,
    # reference python_scoring/train.py:87-101, app.py:176-186).
    # The "model" is the mean vector — exactly what a zero-component
    # linear autoencoder reconstructs — and all arithmetic is carried
    # in scaled BIGINTs so the error is EXACT on both engines:
    #   q_p   = floor(val_p * 10^4 + 0.5)            (int, bit-portable)
    #   err   = sum_p (q_p * N - S_p)^2              (int, no float sums)
    # |q|<=6e3, so q*N stays < 2^63 up to ~1.5e8 vectors per fit group.
    oracle="""
        WITH ex AS (
            SELECT vec_id,
                   unnest(embedding) AS val,
                   unnest(range(1, len(embedding) + 1)) AS pos
            FROM embeddings
        ), q AS (
            SELECT vec_id, pos,
                   CAST(floor(CAST(val AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv
            FROM ex
        ), s AS (
            SELECT pos, SUM(qv) AS sv, COUNT(*) AS n FROM q GROUP BY pos
        ), e AS (
            SELECT q.vec_id,
                   SUM((q.qv * s.n - s.sv) * (q.qv * s.n - s.sv)) AS err_scaled
            FROM q JOIN s USING (pos)
            GROUP BY q.vec_id
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(err_scaled AS BIGINT) AS err_scaled,
               CAST(CASE WHEN rank() OVER (ORDER BY err_scaled DESC, vec_id)
                         <= CAST(ceil(CAST(0.05 AS DOUBLE) * (COUNT(*) OVER ())) AS BIGINT)
                    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        FROM e
    """,
    description="M5/M9 surrogate with hash-level evidence: row-wise "
    "reconstruction error vs the fitted mean vector in exact scaled-int "
    "arithmetic, anomaly flag at the 95th-percentile threshold. The "
    "full AE/PCA scorers (ml_reconstruction_embeddings) share this "
    "MSE+threshold tail; this pins the math the oracle can verify. "
    "The top-5%% flag is an exact global rank computed by the two-pass "
    "parallel scan (operators/prefix.py:ordered_rank_desc) — no "
    "full-data single-partition funnel (the only Exchange "
    "SinglePartition is the bounds scalar agg, one row per partition; "
    "see plans/inspect.py); the oracle keeps the plain rank() window, "
    "which is bit-identical (integer counts, unique vec_id tiebreak).",
    tags=["ml", "oracle-surrogate"],
)
def q_ml_recon_mse_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import ordered_rank_desc

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 10000 + F.lit(0.5)).cast("long").alias("qv"),
    )
    # 64 rows — broadcast the per-dimension "model" back onto the rows.
    sums = q.groupBy("pos").agg(F.sum("qv").alias("sv"), F.count(F.lit(1)).alias("n"))
    d = F.col("qv") * F.col("n") - F.col("sv")
    err = (
        q.join(F.broadcast(sums), "pos")
        .groupBy("vec_id")
        .agg(F.sum(d * d).alias("err_scaled"))
    )
    ranked = ordered_rank_desc(
        err, "err_scaled", "vec_id", out_col="_rnk", total_col="_n_total"
    )
    k = F.ceil(F.lit(0.05) * F.col("_n_total")).cast("long")
    return ranked.select(
        F.col("vec_id").cast("long"),
        F.col("err_scaled").cast("long"),
        F.when(F.col("_rnk") <= k, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("is_anomaly"),
    )


@register(
    "ml_fusion_scores_precomputed",
    # Hash-checkable surrogate for the score-fusion tail (M10 + F9-F12,
    # reference python_scoring/app.py:193-202): deterministic md5-bucket
    # pseudo-scores stand in for the three model outputs POST
    # normalization. inv_sigmoid (F8) is exp-based and libm exp is not
    # bit-portable across engines, so it stays pytest-covered; every op
    # here (clip, weighted sum, override, bucketing) is exact double
    # arithmetic with identical association order on both engines.
    oracle="""
        WITH h AS (
            SELECT event_id, value,
                CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':if-v1'), 1, 8)) AS BIGINT) % 1000 AS b_if,
                CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':lof-v1'), 1, 8)) AS BIGINT) % 1000 AS b_lof,
                CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':ae-v1'), 1, 8)) AS BIGINT) % 2000 AS b_ae,
                CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':rule-v1'), 1, 8)) AS BIGINT) % 11 AS b_rule
            FROM events
        ), f AS (
            SELECT event_id, value,
                CAST(0.4 AS DOUBLE) * (b_if / CAST(1000.0 AS DOUBLE))
                + CAST(0.3 AS DOUBLE) * (b_lof / CAST(1000.0 AS DOUBLE))
                + CAST(0.3 AS DOUBLE) * least(greatest(b_ae / CAST(1000.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
                + CAST(0.45 AS DOUBLE) * (b_rule / CAST(10.0 AS DOUBLE)) AS agg
            FROM h
        ), o AS (
            SELECT event_id,
                CASE WHEN value >= CAST(400.0 AS DOUBLE)
                     THEN greatest(agg, CAST(0.85 AS DOUBLE)) ELSE agg END AS fused_score
            FROM f
        )
        SELECT CAST(event_id AS BIGINT) AS event_id,
               fused_score,
               CASE WHEN fused_score >= CAST(0.7 AS DOUBLE) THEN 'High'
                    WHEN fused_score >= CAST(0.4 AS DOUBLE) THEN 'Medium'
                    ELSE 'Low' END AS risk_level
        FROM o
    """,
    description="M10/F9-F12 surrogate with hash-level evidence: the "
    "python_scoring fusion tail (0.4/0.3/0.3 weights + 0.45 capped rule, "
    "unclipped 1.45-sum quirk, high-amount override, risk bucketing) "
    "over deterministic pseudo-scores — pins the exact fusion arithmetic "
    "the ml_ensemble_scores pipeline applies after model scoring.",
    tags=["ml", "oracle-surrogate", "scoring"],
)
def q_ml_fusion_scores_precomputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def bucket(salt: str, mod: int) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit(salt))), 1, 8),
                16,
                10,
            ).cast("long")
            % mod
        )

    s_if = bucket(":if-v1", 1000) / F.lit(1000.0)
    s_lof = bucket(":lof-v1", 1000) / F.lit(1000.0)
    s_ae = bucket(":ae-v1", 2000) / F.lit(1000.0)
    rule = bucket(":rule-v1", 11) / F.lit(10.0)
    agg = (
        F.lit(0.4) * s_if
        + F.lit(0.3) * s_lof
        + F.lit(0.3) * clip01(s_ae)
        + F.lit(0.45) * rule
    )
    fused = high_amount_override(agg, F.col("value"), threshold=400.0)
    return ev.select(
        F.col("event_id").cast("long"),
        fused.alias("fused_score"),
        risk_level(fused).alias("risk_level"),
    )


@register(
    "stratified_sample_docs",
    oracle="""
        SELECT doc_id, lang, source
        FROM (
            SELECT doc_id, lang, source,
                   CAST(('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR) || ':strat-v1'), 1, 8))
                       AS BIGINT) % 100 AS bucket
            FROM documents
        )
        WHERE bucket < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
    """,
    description="Deterministic stratified sampling for training-data "
    "curation: per-language keep rates (downsample the dominant 'en' "
    "stratum to 20%, keep 50% elsewhere) via md5 hash buckets — no RNG, "
    "reproducible across engines/runs/retries, trivially parallel. The "
    "same hash-bucket idiom as deterministic_split, generalized to "
    "per-stratum rates.",
    tags=["sampling", "llm-pipeline"],
)
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat-v1"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 20).otherwise(50)
    return d.filter(bucket < rate).select("doc_id", "lang", "source")


@register(
    "source_temperature_weights",
    # Temperature-based source mixing (multilingual-sampling staple,
    # e.g. Conneau & Lample 2019 use p_i^alpha): per-source sampling
    # weight sqrt(share) and upsampling factor sqrt(1/share) at
    # alpha = 0.5. sqrt and division are IEEE correctly-rounded in both
    # engines, and the inputs are exact integer counts — so the floats
    # are bit-identical with no float-sum ordering anywhere.
    oracle="""
        WITH s AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars
            FROM documents GROUP BY source
        ), t AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM s
        )
        SELECT s.source, s.n_docs, s.n_chars,
               floor(sqrt(CAST(s.n_docs AS DOUBLE) / t.total) * 1e6 + 0.5) / 1e6
                   AS temp_weight,
               floor(sqrt(CAST(t.total AS DOUBLE) / s.n_docs) * 1e6 + 0.5) / 1e6
                   AS upsample_factor
        FROM s, t
    """,
    description="Temperature-based source mixing at alpha=0.5: per-source "
    "sampling weight sqrt(count/total) and upsampling factor "
    "sqrt(total/count) from exact integer counts (sqrt + division are "
    "correctly-rounded IEEE ops — bit-identical across engines, no "
    "float-sum ordering). One agg shuffle + a broadcast scalar total.",
    tags=["sampling", "llm-pipeline", "aggregate"],
)
def q_source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("n_chars"),
    )
    total = s.agg(F.sum("n_docs").cast("long").alias("total"))
    return s.join(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_chars",
        sround(
            F.sqrt(F.col("n_docs").cast("double") / F.col("total")), 6
        ).alias("temp_weight"),
        sround(
            F.sqrt(F.col("total").cast("double") / F.col("n_docs")), 6
        ).alias("upsample_factor"),
    )


@register(
    "pack_sequences_2048",
    # Sequence packing for LLM training batches: assign documents to
    # packs of <= 2048 tokens. The streaming-friendly Spark shape is
    # running-sum bucketing over a deterministic order (doc_id): a
    # doc's pack is floor((cumulative tokens before it) / 2048). Packs
    # can overflow the budget by at most one doc (first-fit's tail
    # behavior) — the deterministic, shuffle-once approximation of
    # bin packing; exact first-fit is inherently sequential.
    oracle=r"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                       AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS tok_before
            FROM t
        )
        SELECT doc_id, n_tokens,
               CAST(tok_before // 2048 AS BIGINT) AS pack_id,
               CAST(tok_before % 2048 AS BIGINT) AS pack_offset
        FROM c
    """,
    description="LLM batch sequence packing: docs -> <=2048-token packs "
    "via an exclusive running sum in doc_id order, computed as a "
    "two-pass parallel prefix sum (operators/prefix.py): ordered "
    "width_bucket ranges -> per-bucket subtotals -> triangular-join "
    "offsets -> per-bucket window. Integer addition commutes, so the "
    "result is bit-identical to the sequential window and the plan has "
    "NO single-partition exchange under any Window — parallel at "
    "100 TB.",
    tags=["sampling", "window", "llm-pipeline"],
)
def q_pack_sequences_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    t = d.select("doc_id", n_tok.alias("n_tokens"))
    c = ordered_prefix_sum(t, "doc_id", "n_tokens", out_col="tok_before")
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr("tok_before div 2048").alias("pack_id"),
        (F.col("tok_before") % 2048).cast("long").alias("pack_offset"),
    )


@register(
    "lof_exact_quantized",
    # Hash-level oracle evidence for the LOF math (M6/M7) — the ml_*
    # scores are otherwise rows-only. Trick: quantize each pairwise
    # distance to integer micro-units IMMEDIATELY (floor(d*1e6+0.5)),
    # then k-distance (max), reachability (greatest), their sums, and
    # lrd ((k*1e12) // sum_reach) are ALL exact integer arithmetic —
    # no float-sum ordering anywhere — and the final LOF ratio is one
    # division of exact integers. Fixed 500-vector slice keeps the
    # exact O(n^2) tier constant-cost at every scale factor; the
    # distributed LSH form (ml_lof_distributed) is the scale path.
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
        ), pairs AS (
            SELECT a.vec_id AS a, b.vec_id AS b,
                   CAST(floor(sqrt(list_sum(list_transform(
                       list_zip(a.embedding, b.embedding),
                       x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                   ))) * 1e6 + 0.5) AS BIGINT) AS d_u
            FROM e a JOIN e b ON a.vec_id <> b.vec_id
        ), knn AS (
            SELECT a, b, d_u FROM pairs
            QUALIFY row_number() OVER (PARTITION BY a ORDER BY d_u, b) <= 20
        ), kd AS (
            SELECT a, MAX(d_u) AS kdist_u, CAST(COUNT(*) AS BIGINT) AS n_k
            FROM knn GROUP BY a
        ), reach AS (
            SELECT knn.a, knn.b,
                   GREATEST(kb.kdist_u, knn.d_u) AS reach_u
            FROM knn JOIN kd kb ON knn.b = kb.a
        ), lrd AS (
            SELECT reach.a,
                   (kd.n_k * CAST(1e12 AS BIGINT)) // SUM(reach.reach_u) AS lrd_u
            FROM reach JOIN kd ON reach.a = kd.a
            GROUP BY reach.a, kd.n_k
        )
        SELECT CAST(knn.a AS BIGINT) AS vec_id,
               floor(SUM(lb.lrd_u) / CAST(la.lrd_u * CAST(COUNT(*) AS BIGINT) AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS lof
        FROM knn
        JOIN lrd lb ON knn.b = lb.a
        JOIN lrd la ON knn.a = la.a
        GROUP BY knn.a, la.lrd_u
    """,
    description="Exact LOF (Breunig et al. 2000) with hash-level oracle "
    "parity: pairwise distances quantized to integer micro-units "
    "up-front, so k-distance/reachability/lrd are pure integer "
    "arithmetic (lrd = k*1e12 // sum_reach) and the LOF ratio is one "
    "exact-integer division — bit-deterministic across engines. Fixed "
    "500-vector slice = constant-cost verification tier; "
    "ml_lof_distributed is the scale path.",
    tags=["ml", "lof", "anomaly", "oracle-surrogate"],
)
def q_lof_exact_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("_ea"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("_eb"))
    diff_sq = F.zip_with(
        "_ea", "_eb",
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    d2 = F.aggregate(diff_sq, F.lit(0.0), lambda acc, v: acc + v)
    d_u = F.floor(F.sqrt(d2) * 1e6 + F.lit(0.5)).cast("long")
    pairs = a.join(b, F.col("a") != F.col("b")).select("a", "b", d_u.alias("d_u"))
    w = Window.partitionBy("a").orderBy("d_u", "b")
    knn = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    kd = knn.groupBy("a").agg(
        F.max("d_u").alias("kdist_u"), F.count(F.lit(1)).cast("long").alias("n_k")
    )
    reach = knn.join(
        kd.select(F.col("a").alias("b"), F.col("kdist_u").alias("kdist_u_b")), "b"
    ).withColumn("reach_u", F.greatest("kdist_u_b", "d_u"))
    lrd = (
        reach.join(kd.select("a", "n_k"), "a")
        .groupBy("a", "n_k")
        .agg(F.sum("reach_u").alias("sum_reach_u"))
        .select("a", F.expr("n_k * CAST(1e12 AS BIGINT) div sum_reach_u").alias("lrd_u"))
    )
    out = (
        knn.join(lrd.select(F.col("a").alias("b"), F.col("lrd_u").alias("lrd_u_b")), "b")
        .join(lrd, "a")
        .groupBy("a", "lrd_u")
        .agg(
            F.sum("lrd_u_b").alias("sum_lrd_b"),
            F.count(F.lit(1)).cast("long").alias("n_k"),
        )
        .select(
            F.col("a").cast("long").alias("vec_id"),
            sround(
                F.col("sum_lrd_b") / (F.col("lrd_u") * F.col("n_k")).cast("double"), 6
            ).alias("lof"),
        )
    )
    return out


@register(
    "bm25_rational_topk",
    # BM25 retrieval (Robertson & Spärck Jones probabilistic ranking,
    # k1=1.2 b=0.75) with a RATIONAL IDF — (2(N-df)+1)/(2df+1) instead
    # of its log — so every intermediate is a ratio of exact int64s and
    # the score is bit-deterministic across engines (log of a
    # data-dependent ratio is libm-dependent; a monotone rational
    # surrogate of the same odds keeps the ranking semantics and the
    # hash). The tf part is cleared of fractions by scaling numerator
    # and denominator by 20*W (k1=6/5, b=3/4):
    #   tf_part = 44*W*tf / (20*W*tf + 6*W + 18*dl*N)
    # Per-term scores are fixed-shape double expressions (int64/int64
    # divisions then one product, summed in written order), so both
    # engines produce identical bits without any quantization tricks.
    oracle=r"""
        WITH w AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS words
            FROM documents
        ), d AS (
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS dl,
                   CAST(len(list_filter(words, x -> x = 'table')) AS BIGINT) AS tf1,
                   CAST(len(list_filter(words, x -> x = 'scan')) AS BIGINT) AS tf2,
                   CAST(len(list_filter(words, x -> x = 'hash')) AS BIGINT) AS tf3
            FROM w
        ), g AS (
            SELECT COUNT(*) AS n_docs,
                   SUM(dl) AS w_total,
                   SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
                   SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
            FROM d
        ), s AS (
            SELECT doc_id, dl, tf1, tf2, tf3,
                   (CAST(2 * (n_docs - df1) + 1 AS DOUBLE) / CAST(2 * df1 + 1 AS DOUBLE))
                   * (CAST(44 * w_total * tf1 AS DOUBLE)
                      / CAST(20 * w_total * tf1 + 6 * w_total + 18 * dl * n_docs AS DOUBLE))
                 + (CAST(2 * (n_docs - df2) + 1 AS DOUBLE) / CAST(2 * df2 + 1 AS DOUBLE))
                   * (CAST(44 * w_total * tf2 AS DOUBLE)
                      / CAST(20 * w_total * tf2 + 6 * w_total + 18 * dl * n_docs AS DOUBLE))
                 + (CAST(2 * (n_docs - df3) + 1 AS DOUBLE) / CAST(2 * df3 + 1 AS DOUBLE))
                   * (CAST(44 * w_total * tf3 AS DOUBLE)
                      / CAST(20 * w_total * tf3 + 6 * w_total + 18 * dl * n_docs AS DOUBLE))
                   AS score
            FROM d CROSS JOIN g
            WHERE tf1 + tf2 + tf3 > 0
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               tf1, tf2, tf3,
               floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
        FROM s
        ORDER BY s.score DESC, doc_id
        LIMIT 20
    """,
    description="BM25 top-k retrieval (RAG staple) with rational IDF: "
    "per-doc tf via array filters (zero explode, zero shuffle on the "
    "map side), corpus stats as ONE 1-row partial agg broadcast back, "
    "top-20 via TakeOrdered. At 100 TB: embarrassingly parallel scan + "
    "a 1-row broadcast + a k-row result — no full shuffle anywhere.",
    tags=["text", "retrieval", "llm-pipeline"],
)
def q_bm25_rational_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")

    def tf(term: str) -> Column:
        return F.size(F.filter(words, lambda x: x == F.lit(term))).cast("long")

    d = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("dl"),
        tf("table").alias("tf1"),
        tf("scan").alias("tf2"),
        tf("hash").alias("tf3"),
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("w_total"),
        F.sum((F.col("tf1") > 0).cast("long")).alias("df1"),
        F.sum((F.col("tf2") > 0).cast("long")).alias("df2"),
        F.sum((F.col("tf3") > 0).cast("long")).alias("df3"),
    )

    def term_score(tf_c: str, df_c: str) -> Column:
        idf = (2 * (F.col("n_docs") - F.col(df_c)) + 1).cast("double") / (
            2 * F.col(df_c) + 1
        ).cast("double")
        num = (44 * F.col("w_total") * F.col(tf_c)).cast("double")
        den = (
            20 * F.col("w_total") * F.col(tf_c)
            + 6 * F.col("w_total")
            + 18 * F.col("dl") * F.col("n_docs")
        ).cast("double")
        return idf * (num / den)

    scored = (
        d.join(F.broadcast(g))
        .filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .withColumn(
            "_score",
            term_score("tf1", "df1") + term_score("tf2", "df2") + term_score("tf3", "df3"),
        )
    )
    return (
        scored.orderBy(F.col("_score").desc(), "doc_id")
        .limit(20)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "tf1",
            "tf2",
            "tf3",
            sround(F.col("_score"), 6).alias("score"),
        )
    )


@register(
    "bm25_det_topk",
    # True-log BM25 (Robertson & Sparck Jones; k1=1.2 b=0.75): the
    # rational tier above keeps the ODDS ratio (2(N-df)+1)/(2df+1)
    # unlogged to stay libm-free; with the deterministic ln that
    # compromise is gone — idf = ln((N-df+0.5)/(df+0.5)) computed on
    # the same exact-integer odds columns, per-term scores floored to
    # exact nano integers AFTER the bit-identical double math, summed
    # as integers (order-free), TakeOrdered top-20.
    oracle="""
        WITH w AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS words
            FROM documents
        ), d AS (
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS dl,
                   CAST(len(list_filter(words, x -> x = 'table')) AS BIGINT) AS tf1,
                   CAST(len(list_filter(words, x -> x = 'scan')) AS BIGINT) AS tf2,
                   CAST(len(list_filter(words, x -> x = 'hash')) AS BIGINT) AS tf3
            FROM w
        ), g AS (
            SELECT COUNT(*) AS n_docs,
                   SUM(dl) AS w_total,
                   SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
                   SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
            FROM d
        ), r AS (
            SELECT doc_id, dl, tf1, tf2, tf3, n_docs, w_total,
                   (CAST(2 * (n_docs - df1) + 1 AS DOUBLE)
                    / CAST(2 * df1 + 1 AS DOUBLE)) AS rid1,
                   (CAST(2 * (n_docs - df2) + 1 AS DOUBLE)
                    / CAST(2 * df2 + 1 AS DOUBLE)) AS rid2,
                   (CAST(2 * (n_docs - df3) + 1 AS DOUBLE)
                    / CAST(2 * df3 + 1 AS DOUBLE)) AS rid3
            FROM d CROSS JOIN g
            WHERE tf1 + tf2 + tf3 > 0
        ), t AS (
            SELECT doc_id, tf1, tf2, tf3,
                   {T1} AS t1_nano, {T2} AS t2_nano, {T3} AS t3_nano
            FROM r
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, tf1, tf2, tf3,
               CAST(t1_nano + t2_nano + t3_nano AS BIGINT) AS score_nano
        FROM t
        ORDER BY score_nano DESC, doc_id
        LIMIT 20
    """.replace("{T1}", _BM25_TERM_SQL.format(i=1))
    .replace("{T2}", _BM25_TERM_SQL.format(i=2))
    .replace("{T3}", _BM25_TERM_SQL.format(i=3)),
    description="BM25 top-20 with the TRUE log idf via the "
    "deterministic ln (the rational tier's documented compromise "
    "removed): per-term nano-int scores from bit-identical doubles, "
    "integer sum, TakeOrdered. Same scale shape as the rational tier "
    "— parallel scan + 1-row broadcast + k-row result, no shuffle.",
    tags=["text", "retrieval", "llm-pipeline"],
)
def q_bm25_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")

    def tf(term: str) -> Column:
        return F.size(F.filter(words, lambda x: x == F.lit(term))).cast("long")

    d = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("dl"),
        tf("table").alias("tf1"),
        tf("scan").alias("tf2"),
        tf("hash").alias("tf3"),
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("w_total"),
        F.sum((F.col("tf1") > 0).cast("long")).alias("df1"),
        F.sum((F.col("tf2") > 0).cast("long")).alias("df2"),
        F.sum((F.col("tf3") > 0).cast("long")).alias("df3"),
    )
    r = (
        d.join(F.broadcast(g))
        .filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .withColumn("rid1", F.expr(_BM25_RID_SQL.format(i=1)))
        .withColumn("rid2", F.expr(_BM25_RID_SQL.format(i=2)))
        .withColumn("rid3", F.expr(_BM25_RID_SQL.format(i=3)))
    )
    # Column twin of _BM25_TERM_SQL (r12): same ops, compact det_ln
    # tree (3 ladder instances per plan made this codegen-heavy)
    def bm25_term(i: int):
        tf = F.col(f"tf{i}")
        frac = (F.lit(44) * F.col("w_total") * tf).cast("double") / (
            F.lit(20) * F.col("w_total") * tf
            + F.lit(6) * F.col("w_total")
            + F.lit(18) * F.col("dl") * F.col("n_docs")
        ).cast("double")
        return F.floor(
            det_ln_col(F.col(f"rid{i}")) * frac * F.lit(1e9) + F.lit(0.5)
        ).cast("long")

    t = r.select(
        "doc_id",
        "tf1",
        "tf2",
        "tf3",
        bm25_term(1).alias("t1_nano"),
        bm25_term(2).alias("t2_nano"),
        bm25_term(3).alias("t3_nano"),
    )
    return (
        t.withColumn(
            "score_nano",
            (F.col("t1_nano") + F.col("t2_nano") + F.col("t3_nano")).cast("long"),
        )
        .orderBy(F.col("score_nano").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "tf1", "tf2", "tf3", "score_nano")
    )


@register(
    "mad_robust_outliers",
    # Robust anomaly screen (median absolute deviation, the standard
    # robust alternative to the reference's mean/std z-score,
    # python_scoring/train.py:31-40): per-channel median and MAD in
    # integer cents, outlier iff |v - med| > 3 * 1.4826 * MAD with the
    # 1.4826 consistency constant as the exact rational 14826/10000 —
    # every comparison is integer, so the flag set is bit-exact.
    # Medians are kept integer by the x2 trick: an even-count median
    # interpolates halfway, so 2*median of int64s is integral and
    # exactly representable in the double both engines interpolate in.
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), m AS (
            SELECT event_type,
                   CAST(round(2.0 * quantile_cont(cents, 0.5)) AS BIGINT) AS med2
            FROM c GROUP BY event_type
        ), d AS (
            SELECT c.event_type, c.cents, m.med2,
                   abs(2 * c.cents - m.med2) AS dev2
            FROM c JOIN m USING (event_type)
        ), s AS (
            SELECT event_type,
                   CAST(round(2.0 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
            FROM d GROUP BY event_type
        )
        SELECT d.event_type,
               COUNT(*) AS n_events,
               CAST(d.med2 AS BIGINT) AS median_cents_x2,
               CAST(s.mad4 AS BIGINT) AS mad_cents_x4,
               CAST(SUM(CASE WHEN 20000 * d.dev2 > 3 * 14826 * s.mad4
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM d JOIN s USING (event_type)
        GROUP BY d.event_type, d.med2, s.mad4
    """,
    description="MAD-based robust outlier screen per channel: two "
    "exact per-group medians (groupBy percentile — the 5-group shuffle "
    "moves only (type, cents) pairs) with 2-row broadcast join-backs, "
    "one final count agg. Integer-cents x2/x4 scaling keeps median "
    "interpolation and the 3*1.4826*MAD cut exact. At 100 TB swap the "
    "exact percentile for approx_percentile(...,1e-5) — the plan shape "
    "(3 partial-agg shuffles over a 2-column pruned scan) is unchanged.",
    tags=["anomaly", "aggregate", "robust-stats"],
)
def q_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    m = c.groupBy("event_type").agg(
        F.round(F.lit(2.0) * F.percentile("cents", F.lit(0.5))).cast("long").alias("med2")
    )
    d = c.join(F.broadcast(m), "event_type").withColumn(
        "dev2", F.abs(2 * F.col("cents") - F.col("med2"))
    )
    s = d.groupBy("event_type").agg(
        F.round(F.lit(2.0) * F.percentile("dev2", F.lit(0.5))).cast("long").alias("mad4")
    )
    return (
        d.join(F.broadcast(s), "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (20000 * F.col("dev2") > 3 * 14826 * F.col("mad4")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.col("med2").cast("long").alias("median_cents_x2"),
            F.col("mad4").cast("long").alias("mad_cents_x4"),
            "n_outliers",
        )
    )


@register(
    "mahalanobis_outliers",
    # Bivariate Mahalanobis outlier screen per channel over (cents,
    # hour-of-day) — the correlation-AWARE extension of the univariate
    # z-score/MAD screens: a $300 purchase at 3am can be an outlier
    # even when neither coordinate is extreme alone. The 2x2 inverse
    # is closed-form, so the whole operator is SQL-expressible with
    # the drift-family discipline: first-order sums int64, second
    # moments and products of sums DECIMAL(38,0), per-row centered
    # coordinates X = n*x - Sx exact in DECIMAL, ONE decimal->double
    # cast feeding the quadratic form
    #   d^2 = (n-1) * (X^2*B - 2XY*C + Y^2*A) / (n * (A*B - C^2))
    # with A = n*Sxx - Sx^2, B = n*Syy - Sy^2, C = n*Sxy - Sx*Sy —
    # identical expression trees in both engines, so counts against
    # the chi-square(2) cutoffs and the max are hash-stable.
    # Scale shape: one partial-agg shuffle to |channels| moment rows,
    # broadcast back, map-side d^2 + count/max — no windows, no
    # second pass over raw events.
    oracle=f"""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
                   CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
            FROM events
        ), a AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))
                            * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))
                            * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))
                            * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
            FROM c GROUP BY event_type
        ), m AS (
            SELECT event_type, n, sx, sy,
                   CAST(CAST(n AS DECIMAL(38,0)) * sxx
                        - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
                        AS DOUBLE) AS ad,
                   CAST(CAST(n AS DECIMAL(38,0)) * syy
                        - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                        AS DOUBLE) AS bd,
                   CAST(CAST(n AS DECIMAL(38,0)) * sxy
                        - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                        AS DOUBLE) AS cd
            FROM a
        ), r AS (
            SELECT c.event_type, m.n,
                   CAST(CAST(m.n AS DECIMAL(38,0)) * c.x
                        - CAST(m.sx AS DECIMAL(38,0)) AS DOUBLE) AS xd,
                   CAST(CAST(m.n AS DECIMAL(38,0)) * c.y
                        - CAST(m.sy AS DECIMAL(38,0)) AS DOUBLE) AS yd,
                   m.ad, m.bd, m.cd
            FROM c JOIN m ON c.event_type = m.event_type
        ), d AS (
            SELECT event_type, n,
                   (CAST(n - 1 AS DOUBLE)
                    * (xd * xd * bd - 2.0 * xd * yd * cd + yd * yd * ad))
                   / NULLIF(CAST(n AS DOUBLE) * (ad * bd - cd * cd), 0.0)
                       AS d2
            FROM r
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN d2 > 9.21034 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers_p99,
               CAST(SUM(CASE WHEN d2 > 13.81551 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers_p999,
               {sround_sql('MAX(d2)', 6)} AS max_d2
        FROM d GROUP BY event_type
    """,
    description="Per-channel bivariate Mahalanobis screen on (cents, "
    "hour): closed-form 2x2 inverse, exact DECIMAL(38,0) moments and "
    "centered coordinates, one double cast into the quadratic form, "
    "chi-square(2) cutoff counts + max distance. One moment shuffle + "
    "broadcast map-side compare — correlation-aware outliers with the "
    "same scale shape as the z-score family.",
    tags=["anomaly", "outliers", "multivariate", "drift"],
)
def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec38 = "decimal(38,0)"
    c = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    a = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec38) * F.col("x").cast(dec38))
        .cast(dec38)
        .alias("sxx"),
        F.sum(F.col("y").cast(dec38) * F.col("y").cast(dec38))
        .cast(dec38)
        .alias("syy"),
        F.sum(F.col("x").cast(dec38) * F.col("y").cast(dec38))
        .cast(dec38)
        .alias("sxy"),
    )
    m = a.select(
        "event_type",
        "n",
        "sx",
        "sy",
        (
            F.col("n").cast(dec38) * F.col("sxx")
            - F.col("sx").cast(dec38) * F.col("sx").cast(dec38)
        )
        .cast("double")
        .alias("ad"),
        (
            F.col("n").cast(dec38) * F.col("syy")
            - F.col("sy").cast(dec38) * F.col("sy").cast(dec38)
        )
        .cast("double")
        .alias("bd"),
        (
            F.col("n").cast(dec38) * F.col("sxy")
            - F.col("sx").cast(dec38) * F.col("sy").cast(dec38)
        )
        .cast("double")
        .alias("cd"),
    )
    r = c.join(F.broadcast(m), "event_type").select(
        "event_type",
        "n",
        (F.col("n").cast(dec38) * F.col("x") - F.col("sx").cast(dec38))
        .cast("double")
        .alias("xd"),
        (F.col("n").cast(dec38) * F.col("y") - F.col("sy").cast(dec38))
        .cast("double")
        .alias("yd"),
        "ad",
        "bd",
        "cd",
    )
    d2 = (
        (F.col("n") - 1).cast("double")
        * (
            F.col("xd") * F.col("xd") * F.col("bd")
            - F.lit(2.0) * F.col("xd") * F.col("yd") * F.col("cd")
            + F.col("yd") * F.col("yd") * F.col("ad")
        )
    ) / F.nullif(
        F.col("n").cast("double")
        * (F.col("ad") * F.col("bd") - F.col("cd") * F.col("cd")),
        F.lit(0.0),
    )
    d = r.select("event_type", "n", d2.alias("d2"))
    return d.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        # when() .otherwise(0), not a bare cast-sum: a degenerate
        # channel (singular covariance -> d2 NULL via nullif on every
        # row) must count 0 like the oracle's CASE ... ELSE 0, not
        # SUM(all-NULL) = NULL
        F.sum(F.when(F.col("d2") > 9.21034, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_outliers_p99"),
        F.sum(F.when(F.col("d2") > 13.81551, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_outliers_p999"),
        sround(F.max("d2"), 6).alias("max_d2"),
    )


@register(
    "chisq_type_drift",
    # Pearson chi-square drift screen (the standard data-drift monitor
    # a production scoring service runs beside the reference's model,
    # cf. python_scoring/app.py's static thresholds): channel-mix
    # contingency of a reference window (first 15 days) vs the current
    # window. Exactness discipline: every count is int64, expected
    # frequencies and per-cell contributions are FIXED-SHAPE double
    # expressions over exact counts (each IEEE op correctly rounded →
    # bit-identical), and each cell's contribution is integer-quantized
    # BEFORE the cross-cell sum so accumulation order can't matter.
    # Counts-as-doubles stay exact to 2^53 — far beyond 100 TB row
    # counts — so there is no int64 product overflow anywhere (the
    # O*N - rt*ct formulation would overflow; this one never multiplies
    # two counts in integer arithmetic).
    oracle="""
        WITH w AS (
            SELECT event_type,
                   CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 'ref' ELSE 'cur' END AS win
            FROM events
        ), cells AS (
            SELECT event_type, win, COUNT(*) AS o FROM w GROUP BY event_type, win
        ), rt AS (
            SELECT event_type, SUM(o) AS rt FROM cells GROUP BY event_type
        ), ct AS (
            SELECT win, SUM(o) AS ct FROM cells GROUP BY win
        ), n AS (
            SELECT SUM(o) AS n FROM cells
        ), contrib AS (
            SELECT c.event_type, c.win, c.o,
                   CAST(floor(
                       (CAST(c.o AS DOUBLE)
                        - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                          / CAST(n.n AS DOUBLE))
                       * (CAST(c.o AS DOUBLE)
                          - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                            / CAST(n.n AS DOUBLE))
                       / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                          / CAST(n.n AS DOUBLE))
                       * 1000000.0 + 0.5
                   ) AS BIGINT) AS contrib_u
            FROM cells c
            JOIN rt USING (event_type) JOIN ct USING (win) CROSS JOIN n
        ), total AS (
            SELECT SUM(contrib_u) AS chisq_u FROM contrib
        )
        SELECT p.event_type,
               CAST(p.o_ref AS BIGINT) AS o_ref,
               CAST(p.o_cur AS BIGINT) AS o_cur,
               CAST(p.c_ref_u AS BIGINT) AS contrib_ref_u,
               CAST(p.c_cur_u AS BIGINT) AS contrib_cur_u,
               CAST(total.chisq_u AS BIGINT) AS chisq_total_u
        FROM (
            SELECT event_type,
                   SUM(CASE WHEN win = 'ref' THEN o ELSE 0 END) AS o_ref,
                   SUM(CASE WHEN win = 'cur' THEN o ELSE 0 END) AS o_cur,
                   SUM(CASE WHEN win = 'ref' THEN contrib_u ELSE 0 END) AS c_ref_u,
                   SUM(CASE WHEN win = 'cur' THEN contrib_u ELSE 0 END) AS c_cur_u
            FROM contrib GROUP BY event_type
        ) p CROSS JOIN total
    """,
    description="Chi-square channel-mix drift between a reference and "
    "a current window: one partial-agg shuffle to ~10 contingency "
    "cells, then all marginals/expecteds/contributions on the tiny "
    "cell table (broadcast joins). Per-cell integer quantization "
    "before the total makes the statistic hash-exact; counts-as-"
    "doubles avoids every integer product overflow up to 2^53 rows.",
    tags=["anomaly", "drift", "aggregate"],
)
def q_chisq_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "ref")
            .otherwise("cur")
            .alias("win"),
        )
        .groupBy("event_type", "win")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("win").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    dev = F.col("o").cast("double") - e
    contrib = cells.join(F.broadcast(rt), "event_type").join(
        F.broadcast(ct), "win"
    ).join(F.broadcast(n)).select(
        "event_type",
        "win",
        "o",
        F.floor(dev * dev / e * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("contrib_u"),
    )
    total = contrib.agg(F.sum("contrib_u").alias("chisq_u"))
    per_type = contrib.groupBy("event_type").agg(
        F.sum(F.when(F.col("win") == "ref", F.col("o")).otherwise(0)).alias("o_ref"),
        F.sum(F.when(F.col("win") == "cur", F.col("o")).otherwise(0)).alias("o_cur"),
        F.sum(F.when(F.col("win") == "ref", F.col("contrib_u")).otherwise(0)).alias(
            "c_ref_u"
        ),
        F.sum(F.when(F.col("win") == "cur", F.col("contrib_u")).otherwise(0)).alias(
            "c_cur_u"
        ),
    )
    return per_type.join(F.broadcast(total)).select(
        "event_type",
        F.col("o_ref").cast("long").alias("o_ref"),
        F.col("o_cur").cast("long").alias("o_cur"),
        F.col("c_ref_u").cast("long").alias("contrib_ref_u"),
        F.col("c_cur_u").cast("long").alias("contrib_cur_u"),
        F.col("chisq_u").cast("long").alias("chisq_total_u"),
    )


@register(
    "weighted_sample_docs",
    # Weight-proportional deterministic sampling (importance sampling
    # for data curation: longer/higher-quality docs kept with higher
    # probability — the token-weighted analog of the uniform
    # deterministic_split). Inclusion is a pure integer comparison:
    #   u = first 12 md5 hex digits of (doc_id || salt)  in [0, 2^48)
    #   keep  iff  u * W_CAP < w * 2^48
    # i.e. P(keep) = w / W_CAP with w = min(n_chars, 2000), no RNG
    # state, reproducible on any cluster layout, hash-exact across
    # engines. Products stay under 2^63 by construction
    # (2^48 * 2000 ~ 5.6e17).
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(w AS BIGINT) AS weight,
               CAST(u AS BIGINT) AS u48
        FROM (
            SELECT doc_id,
                   least(n_chars, 2000) AS w,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':wsample-v1'), 1, 12)) AS BIGINT) AS u
            FROM documents
        )
        WHERE u * 2000 < w * 281474976710656
    """,
    description="Weight-proportional deterministic sampling: inclusion "
    "probability w/2000 from a 48-bit md5 draw, all-integer compare — "
    "the importance-sampling stage of a curation pipeline with zero "
    "RNG state. Embarrassingly parallel map+filter; the filter sits "
    "directly on the scan.",
    tags=["sampling", "llm-pipeline"],
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wsample-v1"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    w = F.least(F.col("n_chars"), F.lit(2000)).cast("long")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            w.alias("weight"),
            u.alias("u48"),
        )
        .filter(F.col("u48") * 2000 < F.col("weight") * F.lit(281474976710656))
    )


@register(
    "loo_target_encode",
    # Leave-one-out target encoding (categorical-feature staple in
    # fraud models; LOO avoids self-leakage): each event's channel is
    # encoded as the mean amount of all OTHER events in that channel,
    # in exact integer arithmetic — micro-cents via (S - x)*10000 div
    # (n - 1). One partial-agg shuffle to ~5 group rows, broadcast
    # join-back, pure map.
    oracle="""
        WITH c AS (
            SELECT event_id, event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), g AS (
            SELECT event_type, SUM(cents) AS s, COUNT(*) AS n
            FROM c GROUP BY event_type
        )
        SELECT CAST(c.event_id AS BIGINT) AS event_id,
               c.event_type,
               c.cents,
               CAST(CASE WHEN g.n > 1
                         THEN ((g.s - c.cents) * 10000) // (g.n - 1)
                         ELSE NULL END AS BIGINT) AS loo_ucents
        FROM c JOIN g USING (event_type)
    """,
    description="Leave-one-out target encoding in exact integer "
    "micro-cents: per-channel (sum, count) broadcast back, "
    "(S-x)*10000 div (n-1) per event. Embarrassingly parallel after "
    "one tiny partial agg; NULL for singleton groups.",
    tags=["ml-prep", "aggregate", "profile"],
)
def q_loo_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    g = c.groupBy("event_type").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return c.join(F.broadcast(g), "event_type").select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "cents",
        F.when(
            F.col("n") > 1,
            F.expr("((s - cents) * 10000) div (n - 1)"),
        )
        .cast("long")
        .alias("loo_ucents"),
    )


@register(
    "psi_value_drift",
    # Population Stability Index (the standard model-monitoring drift
    # score in financial scoring systems; see e.g. Siddiqi 2006
    # "Credit Risk Scorecards" ch. 10): psi = sum_i (p_i - q_i) *
    # ln(p_i / q_i) over value buckets, reference vs current period.
    # The ln is the first transcendental in an oracle-backed query —
    # made hash-safe by functions/mathfn.det_ln_sql, ONE SQL
    # expression string both engines parse into the identical
    # IEEE-double tree (power-of-two CASE range reduction + atanh
    # series, error < 1e-8, no libm), so every per-bucket term is
    # bit-identical across engines BEFORE the integer nano-unit
    # floor. Laplace-smoothed proportions keep ratios finite on empty
    # buckets; all term sums are exact integers (order-free).
    oracle="""
        WITH e AS (
            SELECT CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                        THEN 0 ELSE 1 END AS period,
                   LEAST(CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000,
                         9) AS bucket
            FROM events
        ), c AS (
            SELECT bucket,
                   SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS ref_cnt,
                   SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS cur_cnt
            FROM e GROUP BY bucket
        ), b AS (
            SELECT unnest(generate_series(0, 9)) AS bucket
        ), f AS (
            SELECT b.bucket,
                   COALESCE(c.ref_cnt, 0) AS ref_cnt,
                   COALESCE(c.cur_cnt, 0) AS cur_cnt
            FROM b LEFT JOIN c USING (bucket)
        ), tot AS (
            SELECT SUM(ref_cnt) AS rt, SUM(cur_cnt) AS ct FROM f
        ), r AS (
            SELECT f.bucket, f.ref_cnt, f.cur_cnt,
                   PLACEHOLDER_P AS p,
                   PLACEHOLDER_Q AS q
            FROM f, tot
        ), rr AS (
            SELECT bucket, ref_cnt, cur_cnt, p, q, (p / q) AS ratio FROM r
        ), terms AS (
            SELECT bucket, ref_cnt, cur_cnt,
                   PLACEHOLDER_T AS psi_term_nano
            FROM rr
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(ref_cnt AS BIGINT) AS ref_cnt,
               CAST(cur_cnt AS BIGINT) AS cur_cnt,
               psi_term_nano,
               CAST(SUM(psi_term_nano) OVER () AS BIGINT) AS psi_total_nano
        FROM terms
    """.replace("PLACEHOLDER_P", _PSI_P_SQL)
    .replace("PLACEHOLDER_Q", _PSI_Q_SQL)
    .replace("PLACEHOLDER_T", _PSI_TERM_SQL),
    description="PSI drift monitor over 10 fixed-width value buckets "
    "(reference: first two weeks; current: the rest), Laplace-"
    "smoothed. Per-bucket psi terms and the total in exact integer "
    "nano-units; the natural log evaluates through the deterministic "
    "series expression (functions/mathfn.py) shared verbatim with "
    "the oracle, so both engines produce bit-identical doubles — "
    "the first transcendental to pass the value-hash gate. Scale "
    "shape: one partial-agg shuffle to 10 bucket rows, then "
    "constant-size math.",
    tags=["drift", "monitoring", "anomaly", "aggregate"],
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    e = ev.select(
        F.when(
            F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("period"),
        cents.alias("cents"),
    ).select(
        "period", F.least(F.expr("cents div 1000"), F.lit(9)).alias("bucket")
    )
    c = e.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("ref_cnt"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("cur_cnt"),
    )
    spine = spark.range(10).select(F.col("id").alias("bucket"))
    f = (
        spine.join(c, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
            F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
        )
    )
    tot = f.agg(
        F.sum("ref_cnt").alias("rt"), F.sum("cur_cnt").alias("ct")
    )
    r = f.join(F.broadcast(tot)).select(
        "bucket",
        "ref_cnt",
        "cur_cnt",
        F.expr(_PSI_P_SQL).alias("p"),
        F.expr(_PSI_Q_SQL).alias("q"),
    )
    rr = r.withColumn("ratio", F.expr("(p / q)"))
    # Column twin of _PSI_TERM_SQL (r12): compact det_ln tree
    terms = rr.select(
        "bucket",
        "ref_cnt",
        "cur_cnt",
        F.floor(
            (F.col("p") - F.col("q")) * det_ln_col(F.col("ratio"))
            * F.lit(1e9) + F.lit(0.5)
        ).cast("long").alias("psi_term_nano"),
    )
    total = terms.agg(
        F.sum("psi_term_nano").cast("long").alias("psi_total_nano")
    )
    return terms.join(F.broadcast(total)).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("ref_cnt").cast("long").alias("ref_cnt"),
        F.col("cur_cnt").cast("long").alias("cur_cnt"),
        "psi_term_nano",
        "psi_total_nano",
    )


@register(
    "kl_divergence_daily",
    # Relative entropy of each day's event-type mix against the global
    # mix — the information-theoretic drift monitor next to PSI
    # (Kullback-Leibler 1951): KL(p||q) = sum_t p_t ln(p_t/q_t).
    # Laplace-smoothed over the (day x type) spine so empty cells stay
    # finite; per-cell terms floored to exact nano-nat integers AFTER
    # the bit-identical deterministic ln, so the per-day sums are
    # order-free. One (day, type) partial agg + a 5-row broadcast
    # spine join — constant-width math at any fact scale.
    oracle="""
        WITH e AS (
            SELECT epoch_us(ts) // 86400000000 AS day, event_type
            FROM events
        ), d AS (
            SELECT day, event_type, COUNT(*) AS c FROM e GROUP BY 1, 2
        ), dt AS (
            SELECT day, SUM(c) AS n FROM d GROUP BY 1
        ), g AS (
            SELECT event_type, COUNT(*) AS gc FROM e GROUP BY 1
        ), gt AS (
            SELECT SUM(gc) AS gn FROM g
        ), f AS (
            SELECT dt.day, g.event_type, dt.n, g.gc,
                   COALESCE(d.c, 0) AS c
            FROM dt CROSS JOIN g
            LEFT JOIN d ON d.day = dt.day AND d.event_type = g.event_type
        ), r AS (
            SELECT f.day, f.event_type, f.c,
                   ((CAST(f.c AS DOUBLE) + 1e0)
                    / (CAST(f.n AS DOUBLE) + 5e0)) AS p,
                   ((CAST(f.gc AS DOUBLE) + 1e0)
                    / (CAST(gt.gn AS DOUBLE) + 5e0)) AS q
            FROM f, gt
        ), rr AS (
            SELECT day, event_type, c, p, q, (p / q) AS ratio FROM r
        ), terms AS (
            SELECT day, event_type, c, {KL_TERM} AS kl_term_nano FROM rr
        )
        SELECT CAST(day AS BIGINT) AS day,
               event_type,
               CAST(c AS BIGINT) AS n_type_events,
               kl_term_nano,
               CAST(SUM(kl_term_nano) OVER (PARTITION BY day) AS BIGINT)
                   AS kl_day_nano
        FROM terms
    """.replace("{KL_TERM}", _KL_TERM_SQL),
    description="Per-day KL divergence of the event-type mix vs the "
    "global mix in exact nano-nat integers — PSI's information-"
    "theoretic sibling, same deterministic-ln discipline (the shared "
    "expression string is the oracle's, verbatim). Day-partitioned "
    "window over a days x 5 grid; nothing global.",
    tags=["drift", "monitoring", "aggregate"],
)
def q_kl_divergence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"), "event_type"
    )
    d = e.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("c"))
    dt = d.groupBy("day").agg(F.sum("c").alias("n"))
    g = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("gc"))
    gt = g.agg(F.sum("gc").alias("gn"))
    f = (
        dt.crossJoin(F.broadcast(g))
        .join(d, ["day", "event_type"], "left")
        .select(
            "day", "event_type", "n", "gc", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    r = f.join(F.broadcast(gt)).select(
        "day",
        "event_type",
        "c",
        F.expr(
            "((CAST(c AS DOUBLE) + 1e0) / (CAST(n AS DOUBLE) + 5e0))"
        ).alias("p"),
        F.expr(
            "((CAST(gc AS DOUBLE) + 1e0) / (CAST(gn AS DOUBLE) + 5e0))"
        ).alias("q"),
    )
    rr = r.withColumn("ratio", F.expr("(p / q)"))
    # Column twin of _KL_TERM_SQL (r12): compact det_ln tree
    terms = rr.select(
        "day", "event_type", "c",
        F.floor(
            F.col("p") * det_ln_col(F.col("ratio")) * F.lit(1e9) + F.lit(0.5)
        ).cast("long").alias("kl_term_nano"),
    )
    wd = Window.partitionBy("day")
    return terms.select(
        F.col("day").cast("long").alias("day"),
        "event_type",
        F.col("c").cast("long").alias("n_type_events"),
        "kl_term_nano",
        F.sum("kl_term_nano").over(wd).cast("long").alias("kl_day_nano"),
    )


@register(
    "entropy_user_types",
    # Shannon entropy of each user's event-type mix (nats) plus the
    # perplexity exp(H) — H through the deterministic ln, perplexity
    # through the deterministic exp COMPOSED on the already-exact
    # integer entropy, so both stay hash-stable. Empty cells
    # contribute exactly 0 and are simply absent (no smoothing needed
    # for entropy). gini_user_diversity is this family's log-free
    # member; this is the information-theoretic one.
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ), n AS (
            SELECT user_id, SUM(c) AS n FROM c GROUP BY 1
        ), r AS (
            SELECT c.user_id, c.c, n.n,
                   (CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)) AS p,
                   (CAST(n.n AS DOUBLE) / CAST(c.c AS DOUBLE)) AS inv
            FROM c JOIN n USING (user_id)
        ), terms AS (
            SELECT user_id, n, {ENT_TERM} AS term_nano FROM r
        ), agg AS (
            SELECT user_id,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n_events,
                   CAST(SUM(term_nano) AS BIGINT) AS entropy_nano
            FROM terms GROUP BY user_id
        ), h AS (
            SELECT user_id, n_events, entropy_nano,
                   (CAST(entropy_nano AS DOUBLE) / 1e9) AS h
            FROM agg
        )
        SELECT CAST(user_id AS BIGINT) AS user_id, n_events, entropy_nano,
               {PPLX} AS perplexity_micro
        FROM h
    """.replace("{ENT_TERM}", _ENT_TERM_SQL).replace("{PPLX}", _PPLX_SQL),
    description="Per-user Shannon entropy of the event-type mix in "
    "exact nano-nats, and its perplexity exp(H) in exact micro-units "
    "— det_ln for the -p ln p terms, det_exp composed on the rounded "
    "integer entropy (identical double on both engines by "
    "construction). One (user, type) partial agg, user-keyed "
    "everything.",
    tags=["drift", "text", "aggregate"],
)
def q_entropy_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("user_id").agg(F.sum("c").alias("n"))
    r = c.join(n, "user_id").select(
        "user_id",
        F.expr("(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))").alias("p"),
        F.expr("(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))").alias("inv"),
        "n",
    )
    # Column twin of _ENT_TERM_SQL (r12): compact det_ln tree
    terms = r.select(
        "user_id", "n",
        F.floor(
            F.col("p") * det_ln_col(F.col("inv")) * F.lit(1e9) + F.lit(0.5)
        ).cast("long").alias("term_nano"),
    )
    agg = terms.groupBy("user_id").agg(
        F.any_value("n").cast("long").alias("n_events"),
        F.sum("term_nano").cast("long").alias("entropy_nano"),
    )
    h = agg.withColumn("h", F.expr("(CAST(entropy_nano AS DOUBLE) / 1e9)"))
    # Column twin of _PPLX_SQL (r12): compact det_exp tree
    return h.select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_events",
        "entropy_nano",
        F.floor(det_exp_col(F.col("h")) * F.lit(1e6) + F.lit(0.5))
        .cast("long").alias("perplexity_micro"),
    )


@register(
    "softmax_temperature_mixing",
    # Temperature softmax over per-source log-volume scores — the
    # sampling-weight computation LLM data mixing actually runs
    # (score = ln total chars, T = 2): w_s = exp(s_s/T) / sum_j
    # exp(s_j/T). Both transcendentals go through the deterministic
    # expressions; each exp is floored to exact integer micro-units
    # BEFORE the normalization, which is then pure integer division —
    # so the weights are exact permille-of-ppm integers on both
    # engines. source_temperature_weights is the rational-power
    # sibling; this is the true-softmax tier it could not express.
    oracle="""
        WITH s AS (
            SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY source
        ), l AS (
            SELECT source, chars, CAST(chars AS DOUBLE) AS cd FROM s
        ), sc AS (
            SELECT source, chars, ({LN_CD} / 2e0) AS hs FROM l
        ), e AS (
            SELECT source, chars, {SM_E} AS e_units FROM sc
        ), t AS (
            SELECT SUM(e_units) AS total FROM e
        )
        SELECT e.source, e.chars AS total_chars, e.e_units,
               CAST((e.e_units * 1000000) // t.total AS BIGINT) AS w_ppm
        FROM e, t
    """.replace("{LN_CD}", det_ln_sql("cd")).replace("{SM_E}", _SOFTMAX_E_SQL),
    description="True temperature-softmax source mixing weights "
    "(T=2 over ln char volume): deterministic ln + exp, exp floored "
    "to integer micro-units pre-normalization so the final ppm "
    "weights are exact integer arithmetic. 20 source rows; one "
    "partial-agg shuffle at any corpus size.",
    tags=["sampling", "llm-pipeline", "aggregate"],
)
def q_softmax_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.sum("n_chars").cast("long").alias("chars"))
    # Column twins of the det_ln/2 score and _SOFTMAX_E_SQL (r12)
    sc = s.withColumn("cd", F.expr("CAST(chars AS DOUBLE)")).withColumn(
        "hs", det_ln_col(F.col("cd")) / F.lit(2.0)
    )
    e = sc.select(
        "source", "chars",
        F.floor(det_exp_col(F.col("hs")) * F.lit(1e6) + F.lit(0.5))
        .cast("long").alias("e_units"),
    )
    t = e.agg(F.sum("e_units").alias("total"))
    return e.join(F.broadcast(t)).select(
        "source",
        F.col("chars").alias("total_chars"),
        "e_units",
        F.expr("CAST((e_units * 1000000) div total AS BIGINT)").alias("w_ppm"),
    )


@register(
    "cramers_v_type_dow",
    # Association strength between event type and day-of-week:
    # chi-square over the 5x7 contingency table plus Cramer's V
    # (chi2 / (n * min(r-1, c-1)), sqrt'd) — the normalized effect
    # size the chisq drift family lacked. All cell terms are floored
    # to exact nano integers BEFORE the total (order-free sum, the
    # PSI discipline); V then derives from the integer total through
    # one division and one sqrt — IEEE-754 sqrt is correctly rounded,
    # so it is bit-identical across engines with no series tricks.
    # dow = epoch-day % 7 (pure integer; independence doesn't care
    # which weekday is 0, and no engine date semantics are involved).
    oracle="""
        WITH e AS (
            SELECT event_type,
                   (epoch_us(ts) // 86400000000) % 7 AS dow
            FROM events
        ), o AS (
            SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY 1, 2
        ), r AS (
            SELECT event_type, SUM(o) AS rt FROM o GROUP BY 1
        ), c AS (
            SELECT dow, SUM(o) AS ct FROM o GROUP BY 1
        ), n AS (
            SELECT SUM(o) AS n FROM o
        ), cells AS (
            SELECT o.event_type, o.dow, o.o,
                   CAST(floor(
                       (CAST(o.o * n.n - r.rt * c.ct AS DOUBLE)
                        * CAST(o.o * n.n - r.rt * c.ct AS DOUBLE))
                       / (CAST(n.n AS DOUBLE) * CAST(r.rt AS DOUBLE)
                          * CAST(c.ct AS DOUBLE))
                       * 1e9 + 5e-1) AS BIGINT) AS term_nano,
                   n.n
            FROM o JOIN r USING (event_type) JOIN c USING (dow), n
        ), tot AS (
            SELECT CAST(SUM(term_nano) AS BIGINT) AS chi2_nano,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n
            FROM cells
        )
        SELECT cells.event_type, CAST(cells.dow AS BIGINT) AS dow,
               CAST(cells.o AS BIGINT) AS n_events,
               cells.term_nano,
               tot.chi2_nano,
               CAST(floor(sqrt((CAST(tot.chi2_nano AS DOUBLE) / 1e9)
                               / (CAST(tot.n AS DOUBLE) * 4e0))
                          * 1e6 + 5e-1) AS BIGINT) AS cramers_v_micro
        FROM cells, tot
    """,
    description="Chi-square + Cramer's V over the event-type x "
    "day-of-week contingency table: per-cell (o*n - r*c)^2/(n*r*c) "
    "terms in exact nano integers (order-free total), effect size "
    "through one correctly-rounded IEEE sqrt — no libm divergence "
    "possible. One partial-agg shuffle to a 35-cell grid; "
    "constant-size math at any fact scale.",
    tags=["drift", "monitoring", "aggregate", "stats"],
)
def q_cramers_v_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000) % 7").alias("dow"),
    )
    o = e.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    r = o.groupBy("event_type").agg(F.sum("o").alias("rt"))
    c = o.groupBy("dow").agg(F.sum("o").alias("ct"))
    n = o.agg(F.sum("o").alias("n"))
    cells = (
        o.join(r, "event_type")
        .join(c, "dow")
        .join(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            "o",
            "n",
            F.expr(
                "CAST(floor((CAST(o * n - rt * ct AS DOUBLE)"
                " * CAST(o * n - rt * ct AS DOUBLE))"
                " / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE)"
                " * CAST(ct AS DOUBLE)) * 1e9 + 5e-1) AS BIGINT)"
            ).alias("term_nano"),
        )
    )
    tot = cells.agg(
        F.sum("term_nano").cast("long").alias("chi2_nano"),
        F.any_value("n").cast("long").alias("n_total"),
    )
    return cells.drop("n").join(F.broadcast(tot)).select(
        "event_type",
        F.col("dow").cast("long").alias("dow"),
        F.col("o").cast("long").alias("n_events"),
        "term_nano",
        "chi2_nano",
        F.expr(
            "CAST(floor(sqrt((CAST(chi2_nano AS DOUBLE) / 1e9)"
            " / (CAST(n_total AS DOUBLE) * 4e0)) * 1e6 + 5e-1) AS BIGINT)"
        ).alias("cramers_v_micro"),
    )


@register(
    "ks_value_drift",
    # Two-sample Kolmogorov-Smirnov drift test on the amount
    # distribution (reference window vs current window, same split as
    # chisq_type_drift) — the distributional companion to the
    # channel-mix chi-square. Exactness: the KS statistic
    #   D = max_v |F_ref(v) - F_cur(v)|
    # is computed on the integer numerator |R_ref(v)*n_cur -
    # R_cur(v)*n_ref| (cross-multiplied ECDFs, no division), where the
    # cumulative ranks R(v) come from the two-pass distributed prefix
    # sum (operators/prefix.py) over the per-cents count table — NO
    # single-partition window anywhere. The rank*n products and the
    # 1e6 quantization run in DECIMAL(38,0) (operators/driftstats.py)
    # — exact to ~1e19 rows/window; only the BIGINT d_num OUTPUT
    # column caps at ~3e9 rows/window. Boundary-tested with synthetic
    # billion-scale counts in tests/test_drift_overflow.py. The DuckDB
    # oracle uses the plain cumulative window.
    oracle="""
        WITH c AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 0 ELSE 1 END AS cur
            FROM events
        ), g AS (
            SELECT cents,
                   SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS c_ref,
                   SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS c_cur
            FROM c GROUP BY cents
        ), n AS (
            SELECT SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur FROM g
        ), e AS (
            SELECT cents,
                   SUM(c_ref) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS r_ref,
                   SUM(c_cur) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS r_cur
            FROM g
        )
        SELECT CAST(n.n_ref AS BIGINT) AS n_ref,
               CAST(n.n_cur AS BIGINT) AS n_cur,
               CAST(MAX(abs(e.r_ref * n.n_cur - e.r_cur * n.n_ref)) AS BIGINT)
                   AS d_num,
               CAST(CASE WHEN n.n_ref * n.n_cur = 0 THEN NULL
                         ELSE MAX(abs(e.r_ref * n.n_cur - e.r_cur * n.n_ref))
                              * 1000000 // (n.n_ref * n.n_cur) END
                    AS BIGINT) AS d_u
        FROM e CROSS JOIN n
        GROUP BY n.n_ref, n.n_cur
    """,
    description="Two-sample KS drift test: per-cents counts (one "
    "partial-agg shuffle), cumulative ranks via the two-pass parallel "
    "prefix sum (no single-partition exchange), max of the integer "
    "cross-multiplied ECDF gap. One small ordered table, fully "
    "parallel at 100 TB where the textbook ECDF window funnels "
    "through one task.",
    tags=["anomaly", "drift", "prefix"],
)
def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.driftstats import ks_from_counts

    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("cur"),
    )
    g = c.groupBy("cents").agg(
        F.sum(F.when(F.col("cur") == 0, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("cur") == 1, 1).otherwise(0)).alias("c_cur"),
    )
    # Pin the per-cents count table ONCE: the two chained prefix sums
    # below consume it ~4x each (bounds, subtotals x2, window), and
    # without the pin every consumer replays the full events scan +
    # aggregation — harmless at sf0.1, an 8x scan at 100 TB. The
    # pinned artifact is one row per distinct amount.
    g = g.localCheckpoint(eager=True)
    return ks_from_counts(g)


@register(
    "mannwhitney_value_drift",
    # Mann-Whitney U / Wilcoxon rank-sum between the reference and
    # current amount distributions, plus the common-language effect
    # size U/(n_ref*n_cur) — which is exactly AUC, the standard
    # separability metric for anomaly scores. Exactness: tied ranks
    # use midranks, which are half-integers, so everything is carried
    # DOUBLED: midrank2(v) = 2*R_before(v) + t(v) + 1 (R_before =
    # combined count below v, from the parallel prefix sum; t = ties
    # at v), R2_ref = sum c_ref*midrank2, U2 = R2 - n_ref*(n_ref+1) —
    # exact integer math, products in DECIMAL(38,0)
    # (operators/driftstats.py; boundary-tested with billion-scale
    # counts), no division until the final quantized effect size.
    # Invariant U2_ref + U2_cur = 2*n_ref*n_cur is the cross-check.
    oracle="""
        WITH c AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 0 ELSE 1 END AS cur
            FROM events
        ), g AS (
            SELECT cents,
                   SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS c_ref,
                   COUNT(*) AS t
            FROM c GROUP BY cents
        ), e AS (
            SELECT cents, c_ref, t,
                   COALESCE(SUM(t) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS r_before
            FROM g
        ), a AS (
            SELECT SUM(c_ref) AS n_ref,
                   SUM(t) - SUM(c_ref) AS n_cur,
                   SUM(c_ref * (2 * r_before + t + 1)) AS r2_ref
            FROM e
        )
        SELECT CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               CAST(r2_ref - n_ref * (n_ref + 1) AS BIGINT) AS u2_ref,
               CAST(CASE WHEN n_ref * n_cur = 0 THEN NULL
                         ELSE (r2_ref - n_ref * (n_ref + 1)) * 1000000
                              // (2 * n_ref * n_cur) END AS BIGINT) AS auc_u
        FROM a
    """,
    description="Rank-sum drift test + AUC effect size: per-cents "
    "counts (one partial-agg shuffle), combined midranks from the "
    "two-pass parallel prefix sum (no single-partition window), "
    "doubled-midrank integer arithmetic end to end. auc_u/1e6 is "
    "P(ref amount > cur amount) — the score-separability number an "
    "anomaly service actually monitors.",
    tags=["anomaly", "drift", "prefix"],
)
def q_mannwhitney_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.driftstats import mannwhitney_from_counts

    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("cur"),
    )
    g = (
        c.groupBy("cents")
        .agg(
            F.sum(F.when(F.col("cur") == 0, 1).otherwise(0)).alias("c_ref"),
            F.count(F.lit(1)).alias("t"),
        )
        # one pin: the prefix sum consumes the count table ~4x
        .localCheckpoint(eager=True)
    )
    return mannwhitney_from_counts(g)


@register(
    "contrastive_negative_pairs",
    # Deterministic negative sampling for contrastive training pairs
    # (in-batch negatives a la DPR, Karpukhin 2020, made reproducible):
    # each anchor document draws k=5 pseudo-random negatives from a
    # hash-assigned candidate bucket. The join is an EQUI-join on the
    # bucket id — each anchor only ever meets ~1/16 of the corpus, so
    # there is NO cross join anywhere; the per-anchor ranking hash
    # md5(anchor#candidate) is order-free and engine-exact. At 100 TB
    # the bucket count scales with the corpus (keep pool/bucket
    # constant) and the rank window partitions by anchor — fully
    # parallel.
    oracle="""
        WITH anchors AS (
            SELECT doc_id AS anchor_id, doc_id % 16 AS b
            FROM documents WHERE doc_id % 100 = 0
        ), pool AS (
            SELECT doc_id AS neg_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 16 AS b
            FROM documents
        ), cand AS (
            SELECT anchor_id, neg_id,
                   ('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '#'
                        || CAST(neg_id AS VARCHAR)), 1, 8))::BIGINT AS h
            FROM anchors JOIN pool USING (b)
            WHERE anchor_id <> neg_id
        ), ranked AS (
            SELECT anchor_id, neg_id, h,
                   ROW_NUMBER() OVER (
                       PARTITION BY anchor_id ORDER BY h ASC, neg_id ASC
                   ) AS rnk
            FROM cand
        )
        SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
               CAST(neg_id AS BIGINT) AS neg_id,
               CAST(h AS BIGINT) AS h,
               CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5
    """,
    description="Reproducible negative sampling for contrastive pairs: "
    "hash-bucketed candidate assignment turns the anchor x corpus "
    "cross join into a bucket EQUI-join (each anchor meets ~1/16 of "
    "the pool), per-anchor top-5 by an md5 ranking hash. Deterministic "
    "across engines, runs, and layouts; the anchor-partitioned window "
    "is high-cardinality parallel at 100 TB.",
    tags=["sampling", "llm-pipeline", "join"],
)
def q_contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    anchors = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("anchor_id"), (F.col("doc_id") % 16).alias("b")
    )
    pool = docs.select(
        F.col("doc_id").alias("neg_id"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 16
        ).alias("b"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit("#"),
                    F.col("neg_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        anchors.join(pool, "b")
        .filter(F.col("anchor_id") != F.col("neg_id"))
        .select("anchor_id", "neg_id", h.alias("h"))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.asc("h"), F.asc("neg_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("anchor_id").cast("long"),
            F.col("neg_id").cast("long"),
            F.col("h").cast("long"),
            F.col("rnk").cast("long"),
        )
    )


@register(
    "theilsen_daily_trend",
    # Theil-Sen robust trend (Theil 1950 / Sen 1968): per channel, the
    # median of all pairwise slopes of the daily event-count series —
    # the outlier-proof answer to "is this channel growing or dying"
    # that OLS gets wrong on one spiky day. Exactness follows the
    # repo's percentile discipline (percentile_thresholds precedent):
    # slopes are exact-integer dy over exact-integer dx divided ONCE
    # in doubles (bit-identical inputs -> bit-identical quotients in
    # both engines), the median interpolates those doubles, and the
    # output is sround-stabilized. Pair count is C(days, 2) per series
    # — bounded by the WINDOW length, not data volume: at 100 TB the
    # daily partial agg compresses the scan to |channels|x|days| rows
    # before any join.
    oracle=f"""
        WITH d AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day,
                   COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ), dd AS (
            SELECT event_type, COUNT(*) AS n_days FROM d GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type,
                   CAST(b.c - a.c AS DOUBLE) / (b.day - a.day) AS slope
            FROM d a JOIN d b
              ON a.event_type = b.event_type AND a.day < b.day
        ), pa AS (
            SELECT event_type, COUNT(*) AS n_pairs,
                   quantile_cont(slope, 0.5) AS med
            FROM pairs GROUP BY event_type
        )
        SELECT pa.event_type,
               CAST(dd.n_days AS BIGINT) AS n_days,
               CAST(pa.n_pairs AS BIGINT) AS n_pairs,
               {sround_sql('pa.med', 6)} AS theil_sen_slope
        FROM pa JOIN dd USING (event_type)
    """,
    description="Theil-Sen robust daily trend per channel: one daily "
    "partial agg (|channels|x|days| rows), C(days,2) pairwise exact "
    "slopes, interpolated median, sround output. The robust drift "
    "companion to the KS/Mann-Whitney family; fully parallel and "
    "window-bounded at 100 TB.",
    tags=["anomaly", "drift", "robust-stats"],
)
def q_theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    d = d.localCheckpoint(eager=True)  # consumed by both join sides + counts
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            (
                (F.col("b.c") - F.col("a.c")).cast("double")
                / (F.col("b.day") - F.col("a.day"))
            ).alias("slope"),
        )
    )
    days = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.percentile("slope", F.lit(0.5)).alias("_med"),
        )
        .join(F.broadcast(days), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("long"),
            F.col("n_pairs").cast("long"),
            sround(F.col("_med"), 6).alias("theil_sen_slope"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5b: time-series diagnostics (CUSUM / OLS / rolling median)
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoint_daily",
    # CUSUM changepoint screen (Page 1954): per channel, the running
    # cumulative deviation from the series mean over the daily-total
    # series; the day where |S_k| peaks is the classic single-shift
    # changepoint estimate. Exactness: the mean is rational, so the
    # statistic is kept INTEGER by scaling through n — stat_k =
    # n*prefix_k - k*total is n*S_k with no division anywhere.
    # Headroom: n_days is window-bounded (~1e3) and prefix/total are
    # int64 cents, so n*prefix < 9.2e18 up to ~1e4 days x 1e12 cents/
    # day (~$1e10/day/channel) — far past 100 TB; beyond that swap the
    # two products to DECIMAL(38,0) (driftstats precedent).
    # Scale shape: one daily partial agg compresses the scan to
    # |channels| x |days| rows; every window below is partitioned by
    # channel over that tiny frame — no global window, no
    # single-partition exchange.
    oracle="""
        WITH d AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), s AS (
            SELECT event_type, day, c,
                   CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rk
            FROM d
        ), t AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM d GROUP BY event_type
        ), st AS (
            SELECT s.event_type, s.day, t.n_days,
                   t.n_days * s.p - s.rk * t.total AS stat
            FROM s JOIN t USING (event_type)
        ), pick AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY ABS(stat) DESC, day) AS pr
            FROM st
        )
        SELECT event_type,
               CAST(n_days AS BIGINT) AS n_days,
               CAST(day AS BIGINT) AS changepoint_day,
               CAST(ABS(stat) AS BIGINT) AS cusum_stat_scaled
        FROM pick WHERE pr = 1
    """,
    description="CUSUM changepoint per channel (Page 1954) on the daily "
    "cents series: integer n-scaled cumulative deviation, argmax day "
    "with deterministic ties. Daily partial agg first, so every window "
    "runs over |channels|x|days| rows — no global window at any scale.",
    tags=["anomaly", "drift", "changepoint", "time-series"],
)
def q_cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = (
        ev.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(F.sum(cents).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # consumed by the window AND the totals
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    s = d.select(
        "event_type",
        "day",
        F.sum("c").over(wd.rowsBetween(Window.unboundedPreceding, 0)).alias("p"),
        F.row_number().over(wd).cast("long").alias("rk"),
    )
    t = d.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    st = s.join(F.broadcast(t), "event_type").select(
        "event_type",
        "day",
        "n_days",
        (F.col("n_days") * F.col("p") - F.col("rk") * F.col("total")).alias("stat"),
    )
    pick = st.withColumn(
        "pr",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("stat")).desc(), F.col("day")
            )
        ),
    ).filter(F.col("pr") == 1)
    return pick.select(
        "event_type",
        F.col("n_days").cast("long"),
        F.col("day").cast("long").alias("changepoint_day"),
        F.abs(F.col("stat")).cast("long").alias("cusum_stat_scaled"),
    )


@register(
    "ols_trend_daily",
    # Closed-form OLS + Pearson r per channel over the daily cents
    # series, via the normal equations on exact integer power sums
    # (n, Sx, Sy, Sxy, Sxx, Syy). First-order sums stay int64; every
    # PRODUCT of sums is computed in DECIMAL(38,0) on both engines
    # (Syy alone is ~c^2 x days, which overflows int64 once daily
    # totals pass ~5e8 cents — the driftstats lesson, applied from the
    # start). The single decimal->double cast feeds one division and
    # one sqrt, bit-identical ops on bit-identical inputs in both
    # engines, then sround. Complements theilsen_daily_trend (robust)
    # with the classical estimator + goodness-of-fit.
    oracle=f"""
        WITH d AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), a AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(day) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(day * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(day * day) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))
                            * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
            FROM d GROUP BY event_type
        ), m AS (
            SELECT event_type,
                   CAST(n AS BIGINT) AS n_days,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS num,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
                   CAST(n * syy - sy * sy AS DOUBLE) AS deny,
                   CAST(sy * sxx - sx * sxy AS DOUBLE) AS inum
            FROM a
        )
        SELECT event_type, n_days,
               {sround_sql('num / NULLIF(denx, 0.0) / 100.0', 6)}
                   AS ols_slope_dollars_per_day,
               {sround_sql('inum / NULLIF(denx, 0.0) / 100.0', 6)}
                   AS ols_intercept_dollars,
               {sround_sql('num / NULLIF(sqrt(denx) * sqrt(deny), 0.0)', 6)}
                   AS pearson_r
        FROM m
    """,
    description="Per-channel OLS slope/intercept + Pearson r on daily "
    "cents via integer normal equations: first-order sums int64, "
    "products of sums DECIMAL(38,0) (overflow-safe past 100 TB), one "
    "decimal->double cast before the only division/sqrt. Classical "
    "companion to the Theil-Sen robust trend.",
    tags=["anomaly", "trend", "regression", "time-series"],
)
def q_ols_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(cents).cast("long").alias("y"))
    dec38 = "decimal(38,0)"
    a = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("day").cast(dec38).alias("sx"),
        F.sum("y").cast(dec38).alias("sy"),
        F.sum(F.col("day") * F.col("y")).cast(dec38).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).cast(dec38).alias("sxx"),
        F.sum(F.col("y").cast(dec38) * F.col("y").cast(dec38))
        .cast(dec38)
        .alias("syy"),
    )
    m = a.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("denx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("deny"),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
        .cast("double")
        .alias("inum"),
    )
    return m.select(
        "event_type",
        "n_days",
        sround(
            F.col("num") / F.nullif(F.col("denx"), F.lit(0.0)) / F.lit(100.0), 6
        ).alias("ols_slope_dollars_per_day"),
        sround(
            F.col("inum") / F.nullif(F.col("denx"), F.lit(0.0)) / F.lit(100.0), 6
        ).alias("ols_intercept_dollars"),
        sround(
            F.col("num")
            / F.nullif(F.sqrt(F.col("denx")) * F.sqrt(F.col("deny")), F.lit(0.0)),
            6,
        ).alias("pearson_r"),
    )


@register(
    "spearman_daily_corr",
    # Spearman rank correlation per channel between day index and the
    # daily cents total — the robust monotone-association companion to
    # ols_trend_daily's Pearson r (which a single spiky day can drag).
    # Ranks are EXACT integers: x = day is distinct within a channel so
    # row_number() is its rank; y ties get the classical average rank,
    # carried as the integer 2*avg_rank = 2*rank() + tie_count - 1
    # (Pearson is scale-invariant, so correlating the doubled ranks
    # gives the same rho with zero fractional values before the final
    # cast). Moments follow the ols_trend_daily discipline: integer
    # sums, DECIMAL(38,0) products of sums, ONE decimal->double cast
    # into the only division/sqrt, then sround. Rank windows partition
    # by channel over the channels x days daily frame — never over raw
    # events — so the operator is volume-flat by construction.
    oracle=f"""
        WITH d AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), r AS (
            SELECT event_type,
                   2 * ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY day) AS rx2,
                   2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
                       + COUNT(*) OVER (PARTITION BY event_type, y)
                       - 1 AS ry2
            FROM d
        ), a AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(rx2) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(ry2) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(rx2 * ry2) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(rx2 * rx2) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(ry2 * ry2) AS DECIMAL(38,0)) AS syy
            FROM r GROUP BY event_type
        ), m AS (
            SELECT event_type,
                   CAST(n AS BIGINT) AS n_days,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS num,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
                   CAST(n * syy - sy * sy AS DOUBLE) AS deny
            FROM a
        )
        SELECT event_type, n_days,
               {sround_sql('num / NULLIF(sqrt(denx) * sqrt(deny), 0.0)', 6)}
                   AS spearman_rho
        FROM m
    """,
    description="Per-channel Spearman rank correlation (day vs daily "
    "cents): exact integer doubled-ranks (2*avg rank keeps y-tie "
    "average ranks integral), DECIMAL(38,0) moment products, one "
    "double cast before the single division/sqrt. Robust monotone "
    "companion to ols_trend_daily's Pearson r; windows only over the "
    "channels x days daily frame.",
    tags=["anomaly", "trend", "correlation", "time-series"],
)
def q_spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(cents).cast("long").alias("y"))
    w_day = Window.partitionBy("event_type").orderBy("day")
    w_y = Window.partitionBy("event_type").orderBy("y")
    w_tie = Window.partitionBy("event_type", "y")
    r = d.select(
        "event_type",
        (F.lit(2) * F.row_number().over(w_day)).cast("long").alias("rx2"),
        (
            F.lit(2) * F.rank().over(w_y)
            + F.count(F.lit(1)).over(w_tie)
            - F.lit(1)
        )
        .cast("long")
        .alias("ry2"),
    )
    dec38 = "decimal(38,0)"
    a = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("rx2").cast(dec38).alias("sx"),
        F.sum("ry2").cast(dec38).alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast(dec38).alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast(dec38).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast(dec38).alias("syy"),
    )
    m = a.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("denx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("deny"),
    )
    return m.select(
        "event_type",
        "n_days",
        sround(
            F.col("num")
            / F.nullif(F.sqrt(F.col("denx")) * F.sqrt(F.col("deny")), F.lit(0.0)),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "kendall_tau_daily",
    # Kendall tau-b per channel between day index and daily cents — the
    # pairwise concordance companion to Spearman (tau's O(pairs) cost is
    # the same C(days,2) per-channel pair join theilsen_daily_trend
    # already bounds; day is distinct within a channel so the x-tie term
    # n1 is identically 0). Concordant/discordant/tie counts are exact
    # integers; n0 = n(n-1)/2 and the y-tie term n2 = sum c(c-1)/2 are
    # exact in DECIMAL(38,0); ONE decimal->double cast feeds the final
    # sqrt division, then sround. At 100 TB the pair join still sees
    # only the channels x days daily frame (C(days,2) per channel),
    # never raw events.
    oracle=f"""
        WITH d AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), p AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.y > a.y THEN 1 ELSE 0 END)
                        AS BIGINT) AS concordant,
                   CAST(SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
                        AS BIGINT) AS discordant
            FROM d a JOIN d b
              ON a.event_type = b.event_type AND a.day < b.day
            GROUP BY a.event_type
        ), t AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n2
            FROM (
                SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS c
                FROM d GROUP BY event_type, y
            ) GROUP BY event_type
        ), m AS (
            SELECT p.event_type,
                   t.n AS n_days,
                   p.concordant, p.discordant,
                   CAST(p.concordant - p.discordant AS DOUBLE) AS num,
                   CAST(CAST(t.n * (t.n - 1) // 2 AS DECIMAL(38,0))
                        * CAST(t.n * (t.n - 1) // 2 - t.n2
                               AS DECIMAL(38,0)) AS DOUBLE) AS den
            FROM p JOIN t ON p.event_type = t.event_type
        )
        SELECT event_type, n_days, concordant, discordant,
               {sround_sql('num / NULLIF(sqrt(den), 0.0)', 6)} AS kendall_tau_b
        FROM m
    """,
    description="Per-channel Kendall tau-b (day vs daily cents): exact "
    "concordant/discordant/tie pair counts over the bounded C(days,2) "
    "per-channel pair join (the theilsen discipline), DECIMAL(38,0) "
    "tie-corrected denominator, one double cast before the single "
    "sqrt division.",
    tags=["anomaly", "trend", "correlation", "time-series"],
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(cents).cast("long").alias("y"))
    a = d.alias("a")
    b = d.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.when(F.col("b.y") > F.col("a.y"), 1).otherwise(0))
            .cast("long")
            .alias("concordant"),
            F.sum(F.when(F.col("b.y") < F.col("a.y"), 1).otherwise(0))
            .cast("long")
            .alias("discordant"),
        )
    )
    dec38 = "decimal(38,0)"
    ties = (
        d.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("n2"),
        )
    )
    # n0 = C(n,2) stays exact in int64 (days-bounded); only the n0 *
    # (n0 - n2) product goes through DECIMAL(38,0), mirroring the SQL.
    n0 = F.expr("n * (n - 1) div 2")
    m = p.join(ties, "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        "concordant",
        "discordant",
        (F.col("concordant") - F.col("discordant")).cast("double").alias("num"),
        (n0.cast(dec38) * (n0 - F.col("n2")).cast(dec38))
        .cast("double")
        .alias("den"),
    )
    return m.select(
        "event_type",
        "n_days",
        "concordant",
        "discordant",
        sround(
            F.col("num") / F.nullif(F.sqrt(F.col("den")), F.lit(0.0)), 6
        ).alias("kendall_tau_b"),
    )


@register(
    "rolling_median_daily",
    # Trailing 7-day rolling MEDIAN of the daily cents series per
    # channel — the robust smoother (rolling mean exists as EWMA; the
    # median ignores one spiky day entirely). Spark has no native
    # window median, so the window collects the (bounded, <=7-element)
    # frame as an array and indexes the two middles after sort — an
    # O(frame) in-partition expression, NOT a UDF. The oracle mirrors
    # the identical list construction (list(...) OVER w -> list_sort)
    # instead of DuckDB's MEDIAN() so both engines interpolate the
    # same way on even frames: integer cents are exact in doubles, so
    # (a+b)/2.0/100.0 is bit-identical. Windows partition by channel
    # over the post-aggregation daily frame — never over raw events.
    oracle="""
        WITH d AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), arr AS (
            SELECT event_type, day, c,
                   list_sort(list(c) OVER (PARTITION BY event_type ORDER BY day
                                           ROWS BETWEEN 6 PRECEDING
                                           AND CURRENT ROW)) AS win
            FROM d
        )
        SELECT event_type, day,
               CAST(c AS BIGINT) AS day_cents,
               CAST(len(win) AS BIGINT) AS frame_n,
               (CAST(win[CAST((len(win) + 1) // 2 AS INTEGER)] AS DOUBLE)
                + CAST(win[CAST(len(win) // 2 + 1 AS INTEGER)] AS DOUBLE))
                   / 2.0 / 100.0 AS rolling_median_dollars
        FROM arr
    """,
    description="Per-channel trailing 7-day rolling median of daily "
    "cents: windowed collect + sort over the bounded frame (<=7 "
    "elements), exact half-cent interpolation on even frames. The "
    "robust companion to ewma_amounts; all windows run on the "
    "|channels|x|days| aggregate, never on raw events.",
    tags=["window", "robust-stats", "time-series"],
)
def q_rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(cents).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    arr = d.withColumn("win", F.sort_array(F.collect_list("c").over(w)))
    m = F.size("win")
    lo = F.element_at("win", ((m + 1) / 2).cast("int"))
    hi = F.element_at("win", (m / 2 + 1).cast("int"))
    return arr.select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("day_cents"),
        m.cast("long").alias("frame_n"),
        ((lo.cast("double") + hi.cast("double")) / F.lit(2.0) / F.lit(100.0)).alias(
            "rolling_median_dollars"
        ),
    )


@register(
    "max_concurrent_sessions",
    # Interval-overlap aggregation by sweep line: how many user
    # sessions (30-min-gap sessionization, the sessionize_events
    # definition) are active simultaneously, maxed per day. The naive
    # form is an interval self-join (quadratic in overlap density);
    # the sweep line is two rows per session (+1 at start, -1 one
    # microsecond after end => inclusive-end semantics at tick
    # granularity), a net-delta agg per distinct tick, and ONE global
    # running sum — which is exactly the operator Spark cannot express
    # without an Exchange SinglePartition, so it runs on the two-pass
    # distributed prefix scan (operators/prefix.py, Blelloch
    # decomposition). Integer addition is associative, so the bucketed
    # scan is bit-identical to the oracle's sequential window.
    oracle="""
        WITH marked AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                                > 1800000000
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id,
                   SUM(is_start) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id,
                   epoch_us(ts) AS t
            FROM marked
        ), sess AS (
            SELECT user_id, session_id,
                   MIN(t) AS s, MAX(t) AS e
            FROM sessions GROUP BY 1, 2
        ), deltas AS (
            SELECT s AS t, 1 AS delta FROM sess
            UNION ALL
            SELECT e + 1 AS t, -1 AS delta FROM sess
        ), net AS (
            SELECT t, CAST(SUM(delta) AS BIGINT) AS d
            FROM deltas GROUP BY t
        ), run AS (
            SELECT t, d,
                   CAST(SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS active
            FROM net
        )
        SELECT CAST(date_diff('day', DATE '2024-01-01',
                              CAST(make_timestamp(t) AS DATE)) AS BIGINT) AS day,
               CAST(MAX(active) AS BIGINT) AS max_concurrent,
               CAST(COUNT(*) AS BIGINT) AS n_ticks
        FROM run GROUP BY 1
    """,
    description="Max concurrent sessions per day via sweep line: "
    "sessionize -> (+1/-1) boundary deltas -> net per tick -> global "
    "running sum on the two-pass distributed prefix scan (no "
    "single-partition exchange) -> per-day max. Replaces the quadratic "
    "interval self-join with two shuffles linear in session count.",
    tags=["window", "session", "prefix-scan", "time-series"],
)
def q_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import ordered_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_start = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    sessions = ev.select(
        "user_id",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
        F.unix_micros("ts").alias("t"),
    )
    sess = sessions.groupBy("user_id", "session_id").agg(
        F.min("t").alias("s"), F.max("t").alias("e")
    )
    deltas = sess.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        sess.select((F.col("e") + 1).alias("t"), F.lit(-1).alias("delta"))
    )
    net = deltas.groupBy("t").agg(F.sum("delta").cast("long").alias("d"))
    run = ordered_prefix_sum(net, "t", "d", out_col="_before")
    return (
        run.withColumn("active", (F.col("_before") + F.col("d")).cast("long"))
        .groupBy(
            F.datediff(
                F.timestamp_micros("t").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("long")
            .alias("day")
        )
        .agg(
            F.max("active").cast("long").alias("max_concurrent"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
    )



@register(
    "acf_daily_lags",
    # Autocorrelation function of the daily cents series per channel,
    # lags 1..7 — the dependence diagnostic under seasonality/drift
    # monitoring (Box & Jenkins). Exactness: r_l's numerator and
    # denominator are scaled by n^2 — (n*x_k - T)(n*x_{k+l} - T) is
    # integer — and every product is DECIMAL(38,0) on both engines
    # (the ols_trend_daily discipline: n*x ~ 1e9 cents-scale products
    # square past int64 fast). One decimal->double cast each, one
    # division, sround. Scale shape: daily partial agg first; the lag
    # pairing is an equi-join on (channel, day+lag) over the
    # |channels| x |days| frame, never raw events.
    oracle=f"""
        WITH d AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), t AS (
            SELECT event_type, CAST(SUM(x) AS BIGINT) AS tot,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM d GROUP BY event_type
        ), c AS (
            SELECT d.event_type, d.day,
                   CAST(t.n AS DECIMAL(38,0)) * d.x
                       - CAST(t.tot AS DECIMAL(38,0)) AS dev,
                   t.n
            FROM d JOIN t USING (event_type)
        ), den AS (
            SELECT event_type,
                   CAST(SUM(dev * dev) AS DECIMAL(38,0)) AS den
            FROM c GROUP BY event_type
        ), lags AS (
            SELECT unnest(range(1, 8)) AS lag
        ), num AS (
            SELECT a.event_type, l.lag,
                   CAST(SUM(a.dev * b.dev) AS DECIMAL(38,0)) AS num,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM c a
            CROSS JOIN lags l
            JOIN c b ON b.event_type = a.event_type AND b.day = a.day + l.lag
            GROUP BY 1, 2
        )
        SELECT num.event_type, CAST(num.lag AS BIGINT) AS lag,
               num.n_pairs,
               {sround_sql('CAST(num.num AS DOUBLE) / NULLIF(CAST(den.den AS DOUBLE), 0.0)', 6)}
                   AS acf
        FROM num JOIN den USING (event_type)
    """,
    description="Lag-1..7 autocorrelation of daily cents per channel: "
    "n^2-scaled integer deviations, DECIMAL(38,0) products, one "
    "decimal->double division, sround. Lag pairing is an equi-join on "
    "the post-aggregation daily frame.",
    tags=["anomaly", "drift", "time-series"],
)
def q_acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(cents).cast("long").alias("x"))
    t = d.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("tot"), F.count(F.lit(1)).cast("long").alias("n")
    )
    dec38 = "decimal(38,0)"
    c = (
        d.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "day",
            (F.col("n").cast(dec38) * F.col("x") - F.col("tot").cast(dec38)).alias(
                "dev"
            ),
        )
        .localCheckpoint(eager=True)  # consumed by den + the 7-lag join
    )
    den = c.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).cast(dec38).alias("den")
    )
    lags = c.sparkSession.range(1, 8).select(F.col("id").alias("lag"))
    num = (
        c.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            c.alias("b"),
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") == F.col("a.day") + F.col("lag")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), "lag")
        .agg(
            F.sum(F.col("a.dev") * F.col("b.dev")).cast(dec38).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        F.col("lag").cast("long"),
        "n_pairs",
        sround(
            F.col("num").cast("double")
            / F.nullif(F.col("den").cast("double"), F.lit(0.0)),
            6,
        ).alias("acf"),
    )


@register(
    "dow_seasonality_index",
    # Day-of-week seasonal index per channel: mean daily cents on that
    # weekday over the channel's overall mean daily cents — the
    # multiplicative seasonal profile used to deseasonalize monitoring
    # thresholds. Pure rational arithmetic: the ratio of two exact
    # integer products divided ONCE in doubles. Weekday numbering is
    # pinned to ISO (1=Mon..7=Sun) explicitly on both engines —
    # DuckDB's dayofweek() (0=Sun) and Spark's dayofweek() (1=Sun)
    # disagree, so neither is used.
    oracle=f"""
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ), k AS (
            SELECT event_type, CAST(date_part('isodow', day) AS BIGINT) AS isodow,
                   c FROM d
        ), per_dow AS (
            SELECT event_type, isodow,
                   CAST(SUM(c) AS BIGINT) AS sum_dow,
                   CAST(COUNT(*) AS BIGINT) AS n_dow
            FROM k GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS sum_all,
                   CAST(COUNT(*) AS BIGINT) AS n_all
            FROM k GROUP BY 1
        )
        SELECT p.event_type, p.isodow, p.n_dow,
               {sround_sql('CAST(p.sum_dow * t.n_all AS DOUBLE) / CAST(p.n_dow * t.sum_all AS DOUBLE)', 6)}
                   AS seasonal_index
        FROM per_dow p JOIN tot t USING (event_type)
    """,
    description="Multiplicative day-of-week seasonal index per channel "
    "(mean daily cents on weekday / overall mean): exact integer "
    "cross-products, one division, ISO weekday pinned explicitly on "
    "both engines. Two tiny aggs over the daily frame.",
    tags=["time-series", "seasonality", "aggregate"],
)
def q_dow_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(cents).cast("long").alias("c")
    )
    k = d.select(
        "event_type",
        (F.weekday("day") + F.lit(1)).cast("long").alias("isodow"),
        "c",
    ).localCheckpoint(eager=True)
    per_dow = k.groupBy("event_type", "isodow").agg(
        F.sum("c").cast("long").alias("sum_dow"),
        F.count(F.lit(1)).cast("long").alias("n_dow"),
    )
    tot = k.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("sum_all"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    return per_dow.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "isodow",
        "n_dow",
        sround(
            (F.col("sum_dow") * F.col("n_all")).cast("double")
            / (F.col("n_dow") * F.col("sum_all")).cast("double"),
            6,
        ).alias("seasonal_index"),
    )


@register(
    "rrf_fusion_topk",
    # Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009): fuse
    # two heterogeneous document rankers — embedding cosine similarity
    # to the vec_id=0 query vector, and metadata proximity (|n_chars -
    # doc 0's n_chars|) — into one list via sum of 1/(60+rank).
    # Exactness: ranks come from ROW_NUMBER over total orders
    # (quantized-integer cosine desc, id asc), and the RRF sum is
    # INTEGER-SCALED — floor(1e9/(60+rank)) — so fusion is exact
    # bigint addition, no float-sum order sensitivity. Scale shape:
    # each ranker cuts to its top-100 via TakeOrdered FIRST; the
    # rank window then runs over a bounded 100-row list (the standard
    # RRF contract: fuse top-k lists, not the corpus).
    oracle=f"""
        WITH q AS (
            SELECT embedding AS qv,
                   (SELECT n_chars FROM documents WHERE doc_id = 0) AS qn
            FROM embeddings WHERE vec_id = 0
        ), cos AS (
            SELECT e.vec_id AS doc_id,
                   CAST(floor(
                       {_DUCK_DOT.format(a='e.embedding', b='q.qv')}
                       / (sqrt({_DUCK_DOT.format(a='e.embedding', b='e.embedding')})
                          * sqrt({_DUCK_DOT.format(a='q.qv', b='q.qv')}))
                       * 1000000000.0 + 0.5) AS BIGINT) AS qcos
            FROM embeddings e CROSS JOIN q
        ), ra AS (
            SELECT doc_id, rank_a FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY qcos DESC, doc_id) AS rank_a
                FROM cos
            ) WHERE rank_a <= 100
        ), rb AS (
            SELECT doc_id, rank_b FROM (
                SELECT d.doc_id,
                       ROW_NUMBER() OVER (
                           ORDER BY ABS(d.n_chars - q.qn), d.doc_id) AS rank_b
                FROM documents d CROSS JOIN q
            ) WHERE rank_b <= 100
        ), fused AS (
            SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
                   CAST(COALESCE(CAST(1000000000 AS BIGINT) // (60 + rank_a), 0)
                      + COALESCE(CAST(1000000000 AS BIGINT) // (60 + rank_b), 0)
                        AS BIGINT) AS rrf_scaled,
                   CAST(COALESCE(rank_a, 0) AS BIGINT) AS rank_a,
                   CAST(COALESCE(rank_b, 0) AS BIGINT) AS rank_b
            FROM ra FULL OUTER JOIN rb USING (doc_id)
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, rrf_scaled, rank_a, rank_b
        FROM fused
        ORDER BY rrf_scaled DESC, doc_id
        LIMIT 50
    """,
    description="Reciprocal Rank Fusion of two rankers (embedding "
    "cosine + metadata proximity): integer-scaled 1/(60+rank) scores "
    "so fusion is exact bigint addition; each ranker cut to top-100 "
    "by TakeOrdered before any rank window (bounded-list RRF "
    "contract). Unranked side contributes 0 via full outer join.",
    tags=["retrieval", "fusion", "llm-pipeline"],
)
def q_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.vectorfn import dot, l2_norm

    q = (
        em.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .crossJoin(
            docs.filter(F.col("doc_id") == 0).select(F.col("n_chars").alias("qn"))
        )
    )
    cos = em.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.floor(
            dot("embedding", "qv") / (l2_norm("embedding") * l2_norm("qv"))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("qcos"),
        F.col("qn"),
    )
    # top-100 cut via TakeOrdered BEFORE any rank window: the window
    # then orders a bounded 100-row list (standard RRF contract)
    top_a = cos.orderBy(F.col("qcos").desc(), "doc_id").limit(100)
    ra = top_a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("qcos").desc(), "doc_id"))
        .cast("long")
        .alias("rank_a"),
    )
    prox = docs.crossJoin(F.broadcast(q)).select(
        "doc_id", F.abs(F.col("n_chars") - F.col("qn")).alias("dist")
    )
    top_b = prox.orderBy("dist", "doc_id").limit(100)
    rb = top_b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy("dist", "doc_id"))
        .cast("long")
        .alias("rank_b"),
    )
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        # exact integer reciprocal-rank units: DIV truncation matches
        # DuckDB // on positive operands — no float rank sums anywhere
        F.expr(
            "coalesce(CAST(1000000000 AS BIGINT) div (60 + rank_a), 0)"
            " + coalesce(CAST(1000000000 AS BIGINT) div (60 + rank_b), 0)"
        )
        .cast("long")
        .alias("rrf_scaled"),
        F.coalesce(F.col("rank_a"), F.lit(0)).cast("long").alias("rank_a"),
        F.coalesce(F.col("rank_b"), F.lit(0)).cast("long").alias("rank_b"),
    )
    return (
        fused.orderBy(F.col("rrf_scaled").desc(), "doc_id")
        .limit(50)
        .select(F.col("doc_id").cast("long"), "rrf_scaled", "rank_a", "rank_b")
    )



@register(
    "seasonal_robust_outliers",
    # Seasonality-aware robust anomaly screen: composes the
    # dow_seasonality_index frame with the mad_robust_outliers
    # discipline — each daily total is judged against the median and
    # MAD of ITS OWN WEEKDAY within its channel, so a quiet Sunday is
    # not flagged merely for being a Sunday. Same x2/x4 integer-median
    # scaling and exact rational 3*1.4826 cut as the per-channel MAD
    # screen; every comparison is integer, the flag set is bit-exact.
    # All days are emitted with their flag (not just outliers), so the
    # result is non-empty at every scale factor.
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(date_part('isodow', CAST(ts AS DATE)) AS BIGINT)
                       AS isodow,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS c
            FROM events GROUP BY 1, 2, 3
        ), m AS (
            SELECT event_type, isodow,
                   CAST(round(2.0 * quantile_cont(c, 0.5)) AS BIGINT) AS med2
            FROM d GROUP BY 1, 2
        ), dv AS (
            SELECT d.event_type, d.day, d.isodow, d.c, m.med2,
                   abs(2 * d.c - m.med2) AS dev2
            FROM d JOIN m USING (event_type, isodow)
        ), s AS (
            SELECT event_type, isodow,
                   CAST(round(2.0 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
            FROM dv GROUP BY 1, 2
        )
        SELECT dv.event_type,
               CAST(date_diff('day', DATE '2024-01-01', dv.day) AS BIGINT)
                   AS day,
               dv.isodow,
               CAST(dv.c AS BIGINT) AS day_cents,
               CAST(dv.med2 AS BIGINT) AS dow_median_x2,
               CAST(s.mad4 AS BIGINT) AS dow_mad_x4,
               CAST(CASE WHEN 20000 * dv.dev2 > 3 * 14826 * s.mad4
                         THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
        FROM dv JOIN s USING (event_type, isodow)
    """,
    description="Seasonality-aware robust outlier screen: daily cents "
    "judged against the median/MAD of their own (channel, weekday) "
    "cell — x2/x4 integer median scaling, exact rational 3*1.4826 "
    "cut, all-integer comparisons. Composes the seasonal index frame "
    "with the MAD discipline.",
    tags=["anomaly", "robust-stats", "seasonality", "time-series"],
)
def q_seasonal_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (F.weekday(F.col("ts").cast("date")) + F.lit(1)).cast("long").alias("isodow"),
    ).agg(F.sum(cents).cast("long").alias("c"))
    m = d.groupBy("event_type", "isodow").agg(
        F.round(F.lit(2.0) * F.percentile("c", F.lit(0.5))).cast("long").alias("med2")
    )
    dv = d.join(F.broadcast(m), ["event_type", "isodow"]).withColumn(
        "dev2", F.abs(2 * F.col("c") - F.col("med2"))
    )
    s = dv.groupBy("event_type", "isodow").agg(
        F.round(F.lit(2.0) * F.percentile("dev2", F.lit(0.5)))
        .cast("long")
        .alias("mad4")
    )
    return dv.join(F.broadcast(s), ["event_type", "isodow"]).select(
        "event_type",
        F.datediff("day", F.lit("2024-01-01").cast("date")).cast("long").alias("day"),
        "isodow",
        F.col("c").cast("long").alias("day_cents"),
        F.col("med2").cast("long").alias("dow_median_x2"),
        F.col("mad4").cast("long").alias("dow_mad_x4"),
        (20000 * F.col("dev2") > 3 * 14826 * F.col("mad4"))
        .cast("long")
        .alias("is_outlier"),
    )


@register(
    "calendar_gap_fill",
    # DuckDB lacks lateral generate_series over derived bounds, so the
    # oracle builds the day spine with a recursive CTE anchored on the
    # data's own min/max (depth = |days|, ~30 here; bounded by the
    # retention window at any scale).
    oracle="""
        WITH RECURSIVE bounds AS (
            SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx
            FROM events
        ), days(day) AS (
            SELECT mn FROM bounds
            UNION ALL
            SELECT day + INTERVAL 1 DAY FROM days
            WHERE day < (SELECT mx FROM bounds)
        ), daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM events
            GROUP BY 1, 2
        )
        SELECT t.event_type, strftime(CAST(d.day AS DATE), '%Y-%m-%d') AS day,
               COALESCE(daily.n_events, 0) AS n_events,
               COALESCE(daily.value_cents, 0) AS value_cents
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN days d
        LEFT JOIN daily
          ON daily.event_type = t.event_type
         AND daily.day = CAST(d.day AS DATE)
    """,
    description="Calendar gap-fill / time-spine densification (§2.5 "
    "extras): per-channel daily totals made DENSE over the table's own "
    "[min, max] date range — missing (channel, day) cells materialize "
    "as explicit zero rows, the precondition for every rolling-window "
    "and drift query downstream (a lag over a sparse frame silently "
    "skips quiet days). The spine is F.sequence(min, max) exploded from "
    "the 1-row bounds aggregate crossed with the distinct channels — "
    "|channels| x |days| rows, broadcast-sized at any fact scale; the "
    "only fact-sized shuffle is the daily aggregation itself.",
    tags=["reshape", "time-series", "spine", "join"],
)
def q_calendar_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("value_cents"),
    )
    spine_days = (
        ev.agg(
            F.min(F.to_date("ts")).alias("mn"), F.max(F.to_date("ts")).alias("mx")
        )
        .select(F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    channels = ev.select("event_type").distinct()
    spine = channels.crossJoin(F.broadcast(spine_days))
    # daily is post-aggregation |channels| x |days| rows — broadcast it
    # so the gap-fill join never shuffles the spine (the left side of a
    # left join cannot be the broadcast-hash build side).
    return (
        spine.join(F.broadcast(daily), ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("value_cents", F.lit(0)).cast("long").alias("value_cents"),
        )
    )


@register(
    "feature_hashing_docs",
    # The hashing trick (Weinberger et al. 2009; Spark's HashingTF):
    # tokens map to a FIXED-width feature space via a hash, so the
    # vectorizer needs no vocabulary pass, no dictionary broadcast,
    # and no growth in model width however large the corpus — the
    # linear-model vectorization primitive at 100 TB. md5-derived
    # buckets keep it engine-reproducible (Spark's murmur3 is not in
    # DuckDB); the corpus-level hashed bag-of-words (bucket, counts,
    # doc-frequency, signed-sum) is the hash-exact compare surface.
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents
        ), hashed AS (
            SELECT doc_id, w,
                   CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 1024
                       AS bucket,
                   CASE WHEN CAST(('0x' || substring(md5(w), 9, 1)) AS BIGINT)
                             % 2 = 0 THEN 1 ELSE -1 END AS sign
            FROM tok
            WHERE w <> ''
        )
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(sign) AS BIGINT) AS signed_sum
        FROM hashed
        GROUP BY bucket
    """,
    description="Feature hashing / hashing trick (Weinberger 2009, "
    "the HashingTF primitive): tokens -> fixed 1024-bucket feature "
    "space via md5, with the sign-hash variant that makes hashed "
    "inner products unbiased. No vocabulary pass, no dictionary "
    "broadcast, model width independent of corpus size. Output is "
    "the corpus-level hashed bag-of-words (<=1024 rows: token count, "
    "doc frequency, signed sum per bucket) — one explode + one "
    "bounded-width aggregation.",
    tags=["text", "ml", "hashing", "llm-pipeline"],
)
def q_feature_hashing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long") % 1024
    )
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("w")), 9, 1), 16, 10).cast("long") % 2 == 0,
        1,
    ).otherwise(-1)
    return (
        tok.withColumn("bucket", bucket)
        .withColumn("sign", sign)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.sum("sign").cast("long").alias("signed_sum"),
        )
    )


@register(
    "interval_union_coverage",
    # Gaps-and-islands interval UNION — the third member of the
    # interval family (sessionize_events cuts on inactivity gaps,
    # max_concurrent_sessions sweeps concurrency; this measures the
    # union of overlapping windows): per user, merge overlapping
    # 30-minute activity intervals into islands and total the covered
    # time. The (s, e, event_id) total order makes island assignment
    # deterministic under ties in both engines.
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id, epoch_us(ts) AS s,
                   epoch_us(ts) + 1800000000 AS e
            FROM events
        ), ord AS (
            SELECT *, MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ) AS pmax
            FROM iv
        ), isl AS (
            SELECT *, SUM(CASE WHEN pmax IS NULL OR s > pmax
                               THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id ORDER BY s, e, event_id
                ROWS UNBOUNDED PRECEDING
            ) AS gid
            FROM ord
        ), g AS (
            SELECT user_id, gid, MIN(s) AS s0, MAX(e) AS e1
            FROM isl GROUP BY 1, 2
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(e1 - s0) AS BIGINT) AS covered_us
        FROM g GROUP BY 1
    """,
    description="Interval union / coverage (gaps-and-islands merge): "
    "per-user overlapping 30-minute activity intervals merged into "
    "maximal islands — island boundary where a start exceeds the "
    "running max of prior ends, island id by indicator prefix sum — "
    "yielding n_islands and total covered micros. All windows are "
    "user-partitioned (high-cardinality key, no global funnel); "
    "integer microseconds keep it hash-exact.",
    tags=["time-series", "window", "interval"],
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = ev.select(
        "user_id", "event_id", us.alias("s"), (us + F.lit(1_800_000_000)).alias("e")
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    ordd = iv.withColumn(
        "pmax", F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    isl = ordd.withColumn(
        "gid",
        F.sum(
            F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = isl.groupBy("user_id", "gid").agg(
        F.min("s").alias("s0"), F.max("e").alias("e1")
    )
    return g.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("e1") - F.col("s0")).cast("long").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# Round-8 additions: sequence modeling, time-series decomposition,
# runtime-filter join pruning, reconciliation checksums
# ---------------------------------------------------------------------------


@register(
    "seasonal_decompose_daily",
    # Additive seasonal decomposition of the daily event-value series:
    # trend = centered 7-day moving average (RANGE +-3 over the integer
    # day index), seasonal = day-of-week mean deviation from the global
    # mean, residual = value - trend - seasonal. All sums are exact
    # integer cents; every double is a single int/int division or a
    # fixed-association row-wise combination, so the decomposition is
    # bit-identical across engines. The windows/joins all run on the
    # DAY-grain frame (~hundreds of rows at any fact scale) — the
    # day-grain global window is the benign tiny-spine pattern, not a
    # full-data funnel.
    oracle=f"""
        WITH e AS (
            SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents
            FROM events
        ), d AS (
            SELECT day, SUM(cents) AS c, COUNT(*) AS n FROM e GROUP BY 1
        ), tw AS (
            SELECT day, c,
                   SUM(c) OVER w AS sw, COUNT(*) OVER w AS cw
            FROM d
            WINDOW w AS (ORDER BY day
                         RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), g AS (
            SELECT SUM(c) AS gs, COUNT(*) AS gn FROM d
        ), s AS (
            SELECT day % 7 AS dow, SUM(c) AS ds, COUNT(*) AS dn
            FROM d GROUP BY 1
        ), j AS (
            SELECT tw.day, tw.c,
                   (CAST(tw.sw AS DOUBLE) / CAST(tw.cw AS DOUBLE)) AS trend,
                   ((CAST(s.ds AS DOUBLE) / CAST(s.dn AS DOUBLE))
                    - (CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE)))
                       AS seasonal
            FROM tw JOIN s ON tw.day % 7 = s.dow CROSS JOIN g
        )
        SELECT CAST(day AS BIGINT) AS day,
               CAST(c AS BIGINT) AS value_cents,
               {sround_sql('trend', 4)} AS trend_cents,
               {sround_sql('seasonal', 4)} AS seasonal_cents,
               {sround_sql('(CAST(c AS DOUBLE) - trend) - seasonal', 4)}
                   AS residual_cents
        FROM j
    """,
    description="Additive trend/seasonal/residual decomposition of the "
    "daily value series: exact-cents daily sums, centered 7-day RANGE "
    "moving average for trend — the component dow_seasonality_index "
    "(the r5 multiplicative dow profile) does not extract — plus "
    "day-of-week mean deviation and the residual. The fact-sized work "
    "is ONE (day) partial agg; everything after runs on the day-grain "
    "spine.",
    tags=["timeseries", "window", "aggregate"],
)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    d = e.groupBy("day").agg(
        F.sum("cents").alias("c"), F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day").rangeBetween(-3, 3)
    tw = d.select(
        "day", "c",
        F.sum("c").over(w).alias("sw"),
        F.count(F.lit(1)).over(w).alias("cw"),
    )
    g = d.agg(F.sum("c").alias("gs"), F.count(F.lit(1)).alias("gn"))
    s = d.groupBy((F.col("day") % 7).alias("dow")).agg(
        F.sum("c").alias("ds"), F.count(F.lit(1)).alias("dn")
    )
    j = (
        tw.join(F.broadcast(s), tw["day"] % 7 == s["dow"])
        .crossJoin(F.broadcast(g))
        .select(
            "day", "c",
            (F.col("sw").cast("double") / F.col("cw").cast("double")).alias(
                "trend"
            ),
            (
                (F.col("ds").cast("double") / F.col("dn").cast("double"))
                - (F.col("gs").cast("double") / F.col("gn").cast("double"))
            ).alias("seasonal"),
        )
    )
    return j.select(
        F.col("day").cast("long"),
        F.col("c").cast("long").alias("value_cents"),
        sround(F.col("trend"), 4).alias("trend_cents"),
        sround(F.col("seasonal"), 4).alias("seasonal_cents"),
        sround(
            (F.col("c").cast("double") - F.col("trend")) - F.col("seasonal"), 4
        ).alias("residual_cents"),
    )


@register(
    "threshold_sweep_pr",
    # Model-evaluation family (new in r8 — the engine scored anomalies
    # for seven rounds with no distributed evaluator): precision /
    # recall / F1 at EVERY decision threshold of an integer risk
    # score, as one pass. The deterministic fixture: label = cents >=
    # 20000 (the rule_score large-amount shape), score = graded value
    # points + error-type bump + night bump (0..11, integer — so
    # bucketing is exact). The fact-sized work is ONE (score, label)
    # partial agg to a <=24-cell grid; the sweep itself is
    # cumulative-from-top window sums ON THE GRID, and every metric is
    # a SINGLE int/int division (F1 via 2tp/(2tp+fp+fn) — never
    # composed from the rounded precision/recall doubles).
    oracle=f"""
        WITH e AS (
            SELECT CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents,
                   event_type,
                   (epoch_us(ts) // 3600000000) % 24 AS hour
            FROM events
        ), s AS (
            SELECT CASE WHEN cents >= 20000 THEN 1 ELSE 0 END AS label,
                   least(cents // 5000, 8)
                   + CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
                   + CASE WHEN hour < 6 THEN 1 ELSE 0 END AS score
            FROM e
        ), g AS (
            SELECT score, label, COUNT(*) AS c FROM s GROUP BY 1, 2
        ), grid AS (
            SELECT t.score AS threshold,
                   COALESCE(SUM(CASE WHEN g.score >= t.score AND g.label = 1
                                     THEN g.c END), 0) AS tp,
                   COALESCE(SUM(CASE WHEN g.score >= t.score AND g.label = 0
                                     THEN g.c END), 0) AS fp,
                   COALESCE(SUM(CASE WHEN g.score < t.score AND g.label = 1
                                     THEN g.c END), 0) AS fn
            FROM (SELECT DISTINCT score FROM g) t CROSS JOIN g
            GROUP BY 1
        )
        SELECT CAST(threshold AS BIGINT) AS threshold,
               CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(fn AS BIGINT) AS fn,
               {sround_sql('CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)', 6)}
                   AS precision_,
               {sround_sql('CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)', 6)}
                   AS recall_,
               {sround_sql(
                   'CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)',
                   6,
               )} AS f1
        FROM grid WHERE tp + fp > 0 AND tp + fn > 0
    """,
    description="Distributed threshold-sweep evaluation: P/R/F1 at "
    "every threshold of an integer risk score in ONE fact pass — the "
    "(score, label) grid is <=24 cells, the sweep runs entirely on the "
    "grid, and each metric is a single exact int/int division (F1 in "
    "its 2tp form, never composed from rounded P and R). The missing "
    "eval surface for the anomaly-scorer family; at 100 TB the sweep "
    "costs one partial-agg scan regardless of threshold count.",
    tags=["ml", "evaluation", "aggregate"],
)
def q_threshold_sweep_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour"),
    )
    s = e.select(
        F.when(F.col("cents") >= 20000, 1).otherwise(0).alias("label"),
        (
            F.least(F.expr("cents div 5000"), F.lit(8))
            + F.when(F.col("event_type") == "error", 2).otherwise(0)
            + F.when(F.col("hour") < 6, 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
    )
    g = s.groupBy("score", "label").agg(F.count(F.lit(1)).alias("c"))
    t = g.select(F.col("score").alias("threshold")).distinct()
    grid = (
        t.join(F.broadcast(g))
        .groupBy("threshold")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("score") >= F.col("threshold"))
                        & (F.col("label") == 1),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("score") >= F.col("threshold"))
                        & (F.col("label") == 0),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias("fp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("score") < F.col("threshold"))
                        & (F.col("label") == 1),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias("fn"),
        )
    )
    return grid.filter(
        (F.col("tp") + F.col("fp") > 0) & (F.col("tp") + F.col("fn") > 0)
    ).select(
        F.col("threshold").cast("long"),
        F.col("tp").cast("long"),
        F.col("fp").cast("long"),
        F.col("fn").cast("long"),
        sround(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
            6,
        ).alias("precision_"),
        sround(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
            6,
        ).alias("recall_"),
        sround(
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
            6,
        ).alias("f1"),
    )


@register(
    "markov_next_event_hitrate",
    # Sequence-model evaluation with a TEMPORAL train/test split —
    # extends markov_transition_matrix (which fits in-sample) to the
    # honest protocol: fit the transition argmax on the first half of
    # the date range, score top-1 next-event accuracy on the second.
    # Split day = (min+max+1) div 2 in exact integers; argmax ties
    # break deterministically (count desc, then next_type asc).
    # Prev-states unseen in training predict '(none)' and score as
    # misses. Fact-sized work: one user-keyed lag shuffle + two
    # (prev, next) aggs; everything else runs on the 5x5 grid.
    oracle=f"""
        WITH s AS (
            SELECT epoch_us(ts) // 86400000000 AS day, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), b AS (
            SELECT (MIN(day) + MAX(day) + 1) // 2 AS split_day FROM s
        ), train AS (
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n
            FROM s, b
            WHERE prev_type IS NOT NULL AND day < split_day
            GROUP BY 1, 2
        ), pred AS (
            SELECT prev_type, next_type AS predicted_next
            FROM (
                SELECT prev_type, next_type,
                       row_number() OVER (
                           PARTITION BY prev_type
                           ORDER BY n DESC, next_type
                       ) AS rk
                FROM train
            ) WHERE rk = 1
        ), test AS (
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n
            FROM s, b
            WHERE prev_type IS NOT NULL AND day >= split_day
            GROUP BY 1, 2
        )
        SELECT t.prev_type,
               COALESCE(p.predicted_next, '(none)') AS predicted_next,
               CAST(SUM(t.n) AS BIGINT) AS n_test,
               CAST(COALESCE(SUM(CASE WHEN t.next_type = p.predicted_next
                                      THEN t.n END), 0) AS BIGINT) AS n_hits,
               {sround_sql(
                   'CAST(COALESCE(SUM(CASE WHEN t.next_type = '
                   'p.predicted_next THEN t.n END), 0) AS DOUBLE) '
                   '/ CAST(SUM(t.n) AS DOUBLE)', 6)}
                   AS hit_rate
        FROM test t LEFT JOIN pred p USING (prev_type)
        GROUP BY 1, 2
    """,
    description="Top-1 next-event accuracy of the Markov transition "
    "model under a temporal train/test split: argmax fitted on the "
    "first half of the date range (deterministic tiebreak), hit rate "
    "per prev-state on the second half, unseen states scored as "
    "misses. The evaluation twin of markov_transition_matrix; one "
    "user-keyed lag shuffle, grid-sized everything else.",
    tags=["ml", "evaluation", "sequence"],
)
def q_markov_next_event_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    b = s.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("split_day")
    )
    s2 = s.crossJoin(F.broadcast(b))
    train = (
        s2.filter(F.col("day") < F.col("split_day"))
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type")
    )
    pred = (
        train.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("prev_type", F.col("next_type").alias("predicted_next"))
    )
    test = (
        s2.filter(F.col("day") >= F.col("split_day"))
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hits = F.coalesce(
        F.sum(
            F.when(
                F.col("next_type") == F.col("predicted_next"), F.col("n")
            )
        ),
        F.lit(0),
    )
    return (
        test.join(F.broadcast(pred), "prev_type", "left")
        .groupBy(
            "prev_type",
            F.coalesce("predicted_next", F.lit("(none)")).alias(
                "predicted_next"
            ),
        )
        .agg(
            F.sum("n").cast("long").alias("n_test"),
            hits.cast("long").alias("n_hits"),
            sround(hits.cast("double") / F.sum("n").cast("double"), 6).alias(
                "hit_rate"
            ),
        )
    )


@register(
    "poisson_bootstrap_ci",
    # Bootstrap confidence intervals the way they are actually run on
    # massive data (Chamandy et al. 2012, "Estimating uncertainty for
    # massive data streams"; also Kleiner 2012 BLB context): instead
    # of resampling rows (impossible at 100 TB), every row gets a
    # DETERMINISTIC pseudo-Poisson(1) weight per replicate — here 32
    # replicates whose uniforms are the 4-byte chunks of 8 md5 digests
    # per row, mapped through fixed integer inverse-CDF thresholds
    # (floor(cum_pmf * 2^32)) — so the whole resample is ONE scan with
    # a (group, replicate)-keyed partial agg and zero randomness.
    # Replicate means are single int/int divisions; the 95% CI is the
    # 2nd/31st order statistic of the 32 means (deterministic
    # replicate-id tiebreak).
    oracle=f"""
        WITH e AS (
            SELECT event_type,
                   CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents,
                   md5(CAST(event_id AS VARCHAR) || ':b0')
                   || md5(CAST(event_id AS VARCHAR) || ':b1')
                   || md5(CAST(event_id AS VARCHAR) || ':b2')
                   || md5(CAST(event_id AS VARCHAR) || ':b3')
                   || md5(CAST(event_id AS VARCHAR) || ':b4')
                   || md5(CAST(event_id AS VARCHAR) || ':b5')
                   || md5(CAST(event_id AS VARCHAR) || ':b6')
                   || md5(CAST(event_id AS VARCHAR) || ':b7') AS h
            FROM events
        ), x AS (
            SELECT event_type, cents, r.r,
                   ('0x' || substr(h, 1 + 8 * r.r, 8))::BIGINT AS u
            FROM e, (SELECT unnest(generate_series(0, 31)) AS r) r
        ), w AS (
            SELECT event_type, r, {_pois_w_sql('u')} AS w, cents FROM x
        ), rep AS (
            SELECT event_type, r, SUM(w * cents) AS sw, SUM(w) AS nw
            FROM w GROUP BY 1, 2
        ), m AS (
            SELECT event_type, r,
                   CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) AS mean_r,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE), r
                   ) AS rk
            FROM rep WHERE nw > 0
        ), ci AS (
            SELECT event_type,
                   MAX(CASE WHEN rk = 2 THEN mean_r END) AS lo,
                   MAX(CASE WHEN rk = 31 THEN mean_r END) AS hi
            FROM m GROUP BY 1
        ), pt AS (
            SELECT event_type, SUM(cents) AS s, COUNT(*) AS n
            FROM e GROUP BY 1
        )
        SELECT pt.event_type,
               CAST(pt.n AS BIGINT) AS n_rows,
               {sround_sql('CAST(pt.s AS DOUBLE) / CAST(pt.n AS DOUBLE)', 4)}
                   AS mean_cents,
               {sround_sql('ci.lo', 4)} AS ci_lo_cents,
               {sround_sql('ci.hi', 4)} AS ci_hi_cents
        FROM pt JOIN ci USING (event_type)
    """,
    description="Deterministic Poisson bootstrap (the massive-data "
    "bootstrap): 32 resample replicates as hash-derived Poisson(1) "
    "weights — 8 md5 digests per row sliced into 32 u32 uniforms, "
    "integer inverse-CDF thresholds — folded in ONE scan by a "
    "(group, replicate) partial agg; 95% CI from the order statistics "
    "of the 32 replicate means. No RNG, no row resampling, no second "
    "pass over the data; replicate count scales the agg width, never "
    "the scan count.",
    tags=["statistics", "evaluation", "aggregate", "scale"],
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = F.concat(
        *[
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(f":b{c}")))
            for c in range(8)
        ]
    )
    e = ev.select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        h.alias("h"),
    )
    x = e.select(
        "event_type",
        "cents",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 31), "
                "r -> cast(conv(substr(h, 1 + 8 * r, 8), 16, 10) as bigint))"
            )
        ).alias("r", "u"),
    )
    w = x.select(
        "event_type", "r", "cents", F.expr(_pois_w_sql("u")).alias("w")
    )
    rep = w.groupBy("event_type", "r").agg(
        F.sum(F.col("w") * F.col("cents")).alias("sw"),
        F.sum("w").alias("nw"),
    )
    mean_r = F.col("sw").cast("double") / F.col("nw").cast("double")
    wr = Window.partitionBy("event_type").orderBy(mean_r, F.col("r"))
    m = (
        rep.filter(F.col("nw") > 0)
        .withColumn("mean_r", mean_r)
        .withColumn("rk", F.row_number().over(wr))
    )
    ci = m.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_r"))).alias("lo"),
        F.max(F.when(F.col("rk") == 31, F.col("mean_r"))).alias("hi"),
    )
    pt = e.groupBy("event_type").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return pt.join(ci, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        sround(F.col("s").cast("double") / F.col("n").cast("double"), 4).alias(
            "mean_cents"
        ),
        sround(F.col("lo"), 4).alias("ci_lo_cents"),
        sround(F.col("hi"), 4).alias("ci_hi_cents"),
    )


@register(
    "keyness_g2_en_vs_rest",
    # Corpus-comparison keyness (Dunning 1993, "Accurate Methods for
    # the Statistics of Surprise and Coincidence"): which words are
    # over-represented in the English sub-corpus vs the rest, by
    # log-likelihood ratio G2 = 2*(a*ln(a/E_a) + b*ln(b/E_b)). The
    # contrastive-corpus primitive under keyword extraction, domain
    # tagging and contamination forensics that TF-IDF (within-corpus)
    # doesn't cover. Ratios a/E_a collapse to integer-product
    # fractions ((a*(NA+NB))/(NA*(a+b))) divided ONCE in doubles, the
    # lns go through the deterministic expression, each term floors
    # to exact nano integers (zero-count terms are exactly 0 — the
    # x*ln(x) -> 0 limit), and the direction flag is a pure
    # cross-multiplied integer comparison. Word-keyed aggs all the
    # way; the two corpus totals broadcast as one row.
    oracle=f"""
        WITH e AS (
            SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'rest' END AS grp,
                   u.w AS word
            FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(w)
        ), c AS (
            SELECT word,
                   COALESCE(SUM(CASE WHEN grp = 'en' THEN 1 END), 0) AS a,
                   COALESCE(SUM(CASE WHEN grp = 'rest' THEN 1 END), 0) AS b
            FROM e GROUP BY 1
        ), t AS (
            SELECT SUM(a) AS na, SUM(b) AS nb FROM c
        ), r AS (
            SELECT word, a, b,
                   CASE WHEN a = 0 THEN 1e0
                        ELSE CAST(a * (t.na + t.nb) AS DOUBLE)
                             / CAST(t.na * (a + b) AS DOUBLE) END AS ratio_a,
                   CASE WHEN b = 0 THEN 1e0
                        ELSE CAST(b * (t.na + t.nb) AS DOUBLE)
                             / CAST(t.nb * (a + b) AS DOUBLE) END AS ratio_b,
                   a * t.nb AS lhs, b * t.na AS rhs
            FROM c, t
            WHERE a + b >= 10
        ), g AS (
            SELECT word, a, b, lhs, rhs,
                   2 * ({_G2_TERM_A_SQL} + {_G2_TERM_B_SQL}) AS g2_nano
            FROM r
        )
        SELECT word,
               CAST(a AS BIGINT) AS cnt_en,
               CAST(b AS BIGINT) AS cnt_rest,
               CAST(g2_nano AS BIGINT) AS g2_nano,
               CASE WHEN lhs > rhs THEN 'en'
                    WHEN lhs < rhs THEN 'rest'
                    ELSE 'balanced' END AS over_in
        FROM g
    """,
    description="Dunning G2 log-likelihood keyness of every word "
    "(min corpus count 10) between the English documents and the "
    "rest: the contrastive-corpus keyword measure, hash-exact via "
    "deterministic ln + nano-int terms + cross-multiplied integer "
    "direction. One token explode, word-keyed aggs, one broadcast "
    "totals row — nothing quadratic, nothing global.",
    tags=["text", "llm-pipeline", "statistics"],
)
def q_keyness_g2_en_vs_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select(
        F.when(F.col("lang") == "en", "en").otherwise("rest").alias("grp"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    c = e.groupBy("word").agg(
        F.coalesce(
            F.sum(F.when(F.col("grp") == "en", 1)), F.lit(0)
        ).alias("a"),
        F.coalesce(
            F.sum(F.when(F.col("grp") == "rest", 1)), F.lit(0)
        ).alias("b"),
    )
    # NOT pinned (r12): eagerly checkpointing c to dedupe the two
    # consumers measured SLOWER (5.15 vs 4.84 s isolated) — the twin
    # subtrees overlap inside one job, while the pin serializes
    # materialize-then-consume. Also NOT rewritten to a doc-level
    # size(split(...)) totals pass (r12): AQE ReusedExchange already
    # shares the explode+groupBy shuffle between t and r, so the
    # "second explode" never runs — the rewrite ADDED a real second
    # documents scan and measured slower (interleaved A/B, 3 reps).
    t = c.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    r = (
        c.filter(F.col("a") + F.col("b") >= 10)
        .crossJoin(F.broadcast(t))
        .select(
            "word", "a", "b",
            F.when(F.col("a") == 0, F.lit(1.0))
            .otherwise(
                (F.col("a") * (F.col("na") + F.col("nb"))).cast("double")
                / (F.col("na") * (F.col("a") + F.col("b"))).cast("double")
            )
            .alias("ratio_a"),
            F.when(F.col("b") == 0, F.lit(1.0))
            .otherwise(
                (F.col("b") * (F.col("na") + F.col("nb"))).cast("double")
                / (F.col("nb") * (F.col("a") + F.col("b"))).cast("double")
            )
            .alias("ratio_b"),
            (F.col("a") * F.col("nb")).alias("lhs"),
            (F.col("b") * F.col("na")).alias("rhs"),
        )
    )
    # Column twins of _G2_TERM_A/B_SQL (r12): identical IEEE op
    # sequence through det_ln_col's compact let-bound ladder — the SQL
    # form's ~2,700-branch expanded tree cost ~4.2 s of this query's
    # 5.1 s in DRIVER-side analysis + failed codegen + interpreted
    # fallback (bit-equality proven on the full output at sf0.01 and
    # sf0.1; ladder equivalence pinned in tests/test_mathfn.py).
    def g2_term(cnt: str, ratio: str):
        return F.when(F.col(cnt) == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                F.col(cnt).cast("double") * det_ln_col(F.col(ratio))
                * F.lit(1e9) + F.lit(0.5)
            ).cast("long")
        )

    g = r.select(
        "word", "a", "b", "lhs", "rhs",
        (2 * (g2_term("a", "ratio_a") + g2_term("b", "ratio_b"))).alias(
            "g2_nano"
        ),
    )
    return g.select(
        "word",
        F.col("a").cast("long").alias("cnt_en"),
        F.col("b").cast("long").alias("cnt_rest"),
        F.col("g2_nano").cast("long").alias("g2_nano"),
        F.when(F.col("lhs") > F.col("rhs"), "en")
        .when(F.col("lhs") < F.col("rhs"), "rest")
        .otherwise("balanced")
        .alias("over_in"),
    )


@register(
    "roc_auc_exact",
    # Exact ROC AUC of the integer risk score via the rank-sum
    # identity (AUC = P(score_pos > score_neg) + 0.5 P(tie), the
    # Mann-Whitney relation — Hanley & McNeil 1982), completing the
    # r8 eval family next to threshold_sweep_pr (same deterministic
    # score/label fixture). Tie handling is EXACT in integers:
    # average ranks are half-integers, so 2*sum_ranks_pos =
    # sum over score groups of pos_cnt * (2*cum_below + cnt + 1) is
    # an integer, and AUC = (S2 - n1*(n1+1)) / (2*n1*n0) is ONE
    # int/int double division. The cumulative runs on the <=12-row
    # score grid — fact-sized work is one (score, label-split) agg.
    oracle=f"""
        WITH e AS (
            SELECT CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents,
                   event_type,
                   (epoch_us(ts) // 3600000000) % 24 AS hour
            FROM events
        ), s AS (
            SELECT CASE WHEN cents >= 20000 THEN 1 ELSE 0 END AS label,
                   least(cents // 5000, 8)
                   + CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
                   + CASE WHEN hour < 6 THEN 1 ELSE 0 END AS score
            FROM e
        ), g AS (
            SELECT score, COUNT(*) AS cnt, SUM(label) AS pos
            FROM s GROUP BY 1
        ), c AS (
            SELECT score, cnt, pos,
                   COALESCE(SUM(cnt) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS below
            FROM g
        ), t AS (
            SELECT SUM(pos * (2 * below + cnt + 1)) AS s2,
                   SUM(pos) AS n1, SUM(cnt - pos) AS n0
            FROM c
        )
        SELECT CAST(n1 AS BIGINT) AS n_pos,
               CAST(n0 AS BIGINT) AS n_neg,
               {sround_sql(
                   'CAST(s2 - n1 * (n1 + 1) AS DOUBLE) '
                   '/ CAST(2 * n1 * n0 AS DOUBLE)', 6)} AS auc,
               {sround_sql(
                   'CAST(s2 - n1 * (n1 + 1) - n1 * n0 AS DOUBLE) '
                   '/ CAST(n1 * n0 AS DOUBLE)', 6)} AS gini
        FROM t
    """,
    description="Exact tie-aware ROC AUC (and Gini) of the integer "
    "risk score by the Mann-Whitney rank-sum identity: one "
    "(score)-keyed partial agg compresses the scan to a <=12-row "
    "grid, average-rank tie handling stays in integers (2x trick), "
    "and AUC/Gini are single exact divisions. The ranking-quality "
    "summary beside threshold_sweep_pr's operating points.",
    tags=["ml", "evaluation", "aggregate"],
)
def q_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour"),
    )
    s = e.select(
        F.when(F.col("cents") >= 20000, 1).otherwise(0).alias("label"),
        (
            F.least(F.expr("cents div 5000"), F.lit(8))
            + F.when(F.col("event_type") == "error", 2).otherwise(0)
            + F.when(F.col("hour") < 6, 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
    )
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    wb = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "score", "cnt", "pos",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("below"),
    )
    t = c.agg(
        F.sum(
            F.col("pos") * (2 * F.col("below") + F.col("cnt") + 1)
        ).alias("s2"),
        F.sum("pos").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n0"),
    )
    return t.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        sround(
            (F.col("s2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (2 * F.col("n1") * F.col("n0")).cast("double"),
            6,
        ).alias("auc"),
        sround(
            (
                F.col("s2")
                - F.col("n1") * (F.col("n1") + 1)
                - F.col("n1") * F.col("n0")
            ).cast("double")
            / (F.col("n1") * F.col("n0")).cast("double"),
            6,
        ).alias("gini"),
    )


@register(
    "calibration_ece_bins",
    # Calibration of the integer risk score (Naeini 2015's ECE shape,
    # per-score bins): predicted probability = score/11 (the score's
    # own scale), observed = positive rate per bin, and the expected
    # calibration error ECE = sum_bins (cnt/N) * |obs - pred|. The
    # whole thing is EXACT in integers until one division per output
    # column: |pos/cnt - s/11| = |11*pos - s*cnt| / (11*cnt), so the
    # per-bin gap numerators and the ECE numerator
    # sum(|11*pos - s*cnt|) are plain BIGINTs, order-free. Completes
    # the r8 eval family: operating points (threshold_sweep_pr),
    # ranking (roc_auc_exact), calibration (here).
    oracle=f"""
        WITH e AS (
            SELECT CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents,
                   event_type,
                   (epoch_us(ts) // 3600000000) % 24 AS hour
            FROM events
        ), s AS (
            SELECT CASE WHEN cents >= 20000 THEN 1 ELSE 0 END AS label,
                   least(cents // 5000, 8)
                   + CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
                   + CASE WHEN hour < 6 THEN 1 ELSE 0 END AS score
            FROM e
        ), g AS (
            SELECT score, COUNT(*) AS cnt, SUM(label) AS pos
            FROM s GROUP BY 1
        ), t AS (
            SELECT SUM(cnt) AS n,
                   SUM(abs(11 * pos - score * cnt)) AS ece_num
            FROM g
        )
        SELECT CAST(g.score AS BIGINT) AS score,
               CAST(g.cnt AS BIGINT) AS cnt,
               CAST(g.pos AS BIGINT) AS pos,
               {sround_sql('CAST(g.pos AS DOUBLE) / CAST(g.cnt AS DOUBLE)', 6)}
                   AS obs_rate,
               {sround_sql('CAST(g.score AS DOUBLE) / CAST(11 AS DOUBLE)', 6)}
                   AS pred_rate,
               CAST(abs(11 * g.pos - g.score * g.cnt) AS BIGINT)
                   AS gap_num_11cnt,
               {sround_sql(
                   'CAST(t.ece_num AS DOUBLE) / CAST(11 * t.n AS DOUBLE)', 6)}
                   AS ece
        FROM g, t
    """,
    description="Reliability bins + expected calibration error of the "
    "integer risk score, exact: per-bin |observed - predicted| gaps "
    "carried as BIGINT numerators (|11*pos - s*cnt|), ECE one int/int "
    "division over the order-free integer sum. One (score)-keyed "
    "partial agg; everything else on the <=12-row grid.",
    tags=["ml", "evaluation", "aggregate"],
)
def q_calibration_ece_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour"),
    )
    s = e.select(
        F.when(F.col("cents") >= 20000, 1).otherwise(0).alias("label"),
        (
            F.least(F.expr("cents div 5000"), F.lit(8))
            + F.when(F.col("event_type") == "error", 2).otherwise(0)
            + F.when(F.col("hour") < 6, 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
    )
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    t = g.agg(
        F.sum("cnt").alias("n"),
        F.sum(
            F.abs(11 * F.col("pos") - F.col("score") * F.col("cnt"))
        ).alias("ece_num"),
    )
    return g.crossJoin(F.broadcast(t)).select(
        F.col("score").cast("long"),
        F.col("cnt").cast("long"),
        F.col("pos").cast("long"),
        sround(F.col("pos").cast("double") / F.col("cnt").cast("double"), 6).alias(
            "obs_rate"
        ),
        sround(F.col("score").cast("double") / F.lit(11).cast("double"), 6).alias(
            "pred_rate"
        ),
        F.abs(11 * F.col("pos") - F.col("score") * F.col("cnt"))
        .cast("long")
        .alias("gap_num_11cnt"),
        sround(
            F.col("ece_num").cast("double")
            / (11 * F.col("n")).cast("double"),
            6,
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# Round-9 additions: the rest of the evaluation/statistics surface —
# earth-mover drift (magnitude-aware KS companion), WOE/IV categorical
# encoding (the credit-risk staple), split-conformal thresholds
# (finite-sample coverage guarantee for the anomaly scores), and
# retrieval-ranking metrics (NDCG/MRR/Recall over the exact quantized
# cosine ranking with the embeddings' real labels as relevance).
# ---------------------------------------------------------------------------


@register(
    "wasserstein_value_drift",
    # Wasserstein-1 (earth mover) distance between the reference and
    # current amount windows (same split as ks/mannwhitney): W1 =
    # integral of the ECDF gap over the value axis (Vallender 1974's
    # 1-D closed form on the merged integer-cents support) — KS tells
    # you the worst gap, W1 prices the shift in cents. Exactness:
    # sum_i |R_ref(v_i)*n_cur - R_cur(v_i)*n_ref| * (v_{i+1} - v_i)
    # is integer arithmetic end to end (DECIMAL(38,0) internally,
    # operators/driftstats.py); cumulative ranks AND the next-value
    # step both come from the two-pass parallel prefix sum (the step
    # via a rank equi-join, never a global-window lead) — no
    # single-partition exchange. The oracle uses the plain windows.
    oracle="""
        WITH c AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 0 ELSE 1 END AS cur
            FROM events
        ), g AS (
            SELECT cents,
                   SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS c_ref,
                   SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS c_cur
            FROM c GROUP BY cents
        ), n AS (
            SELECT SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur FROM g
        ), e AS (
            SELECT cents,
                   SUM(c_ref) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS r_ref,
                   SUM(c_cur) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS r_cur,
                   lead(cents) OVER (ORDER BY cents) AS next_cents
            FROM g
        )
        SELECT CAST(n.n_ref AS BIGINT) AS n_ref,
               CAST(n.n_cur AS BIGINT) AS n_cur,
               CAST(SUM(abs(e.r_ref * n.n_cur - e.r_cur * n.n_ref)
                        * COALESCE(e.next_cents - e.cents, 0))
                    AS BIGINT) AS w1_num,
               CAST(SUM(abs(e.r_ref * n.n_cur - e.r_cur * n.n_ref)
                        * COALESCE(e.next_cents - e.cents, 0)) * 1000000
                    // (n.n_ref * n.n_cur) AS BIGINT) AS w1_cents_u
        FROM e CROSS JOIN n
        GROUP BY n.n_ref, n.n_cur
    """,
    description="Earth-mover (Wasserstein-1) drift between amount "
    "windows: integer cross-multiplied ECDF gaps times value steps, "
    "summed — exact to the final quantized division, fully parallel "
    "(prefix-sum ranks + rank equi-join steps, no global window). "
    "The magnitude-aware companion to ks_value_drift: same scan, "
    "same count-table reduction, a shift's cost in cents.",
    tags=["anomaly", "drift", "prefix"],
)
def q_wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.driftstats import wasserstein_from_counts

    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("cur"),
    )
    g = c.groupBy("cents").agg(
        F.sum(F.when(F.col("cur") == 0, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("cur") == 1, 1).otherwise(0)).alias("c_cur"),
    )
    # pin once: three chained prefix sums + the rank join consume the
    # count table many times (same rationale as ks_value_drift)
    g = g.localCheckpoint(eager=True)
    return wasserstein_from_counts(g)


@register(
    "woe_iv_event_types",
    # Weight-of-Evidence / Information Value of event_type against the
    # high-amount label (the eval fixture's cents >= 20000) — the
    # credit-risk categorical-encoding staple (Siddiqi 2006). Laplace
    # smoothing (+1 per cell, +K on the totals, K = category count)
    # keeps every ratio strictly positive and inside det_ln's domain.
    # Exactness: ratio_c = ((pos_c+1)*(NEG+K)) / ((neg_c+1)*(POS+K))
    # is one division of exact int64 products; WOE floors to nano-nats
    # BEFORE any reuse; each IV term floors share_diff * woe_nano to
    # an integer so the IV sum is order-free; IV itself is one final
    # division. int64 domain: the share_diff numerator
    # (pos_c+1)*(NEG+K) stays < 2^53-exact doubles through ~3e7-row
    # windows per class; past that carry the products in DECIMAL(38,0)
    # like driftstats.
    oracle=f"""
        WITH e AS (
            SELECT event_type,
                   CASE WHEN CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                             AS BIGINT) >= 20000 THEN 1 ELSE 0 END AS label
            FROM events
        ), g AS (
            SELECT event_type,
                   SUM(label) AS pos,
                   COUNT(*) - SUM(label) AS neg
            FROM e GROUP BY 1
        ), t AS (
            SELECT SUM(pos) AS pos_tot, SUM(neg) AS neg_tot,
                   COUNT(*) AS k FROM g
        ), r AS (
            SELECT g.event_type, g.pos, g.neg, t.pos_tot, t.neg_tot, t.k,
                   CAST((g.pos + 1) * (t.neg_tot + t.k) AS DOUBLE)
                   / CAST((g.neg + 1) * (t.pos_tot + t.k) AS DOUBLE)
                       AS ratio,
                   (g.pos + 1) * (t.neg_tot + t.k)
                   - (g.neg + 1) * (t.pos_tot + t.k) AS share_num
            FROM g, t
        ), w AS (
            SELECT event_type, pos, neg, share_num,
                   pos_tot, neg_tot, k,
                   {_WOE_LN_NANO_SQL} AS woe_nano
            FROM r
        ), terms AS (
            SELECT event_type, pos, neg, woe_nano,
                   CAST(floor(
                       (CAST(share_num AS DOUBLE)
                        / CAST((pos_tot + k) * (neg_tot + k) AS DOUBLE))
                       * CAST(woe_nano AS DOUBLE) + 5e-1) AS BIGINT)
                       AS iv_term_nano
            FROM w
        ), iv AS (
            SELECT SUM(iv_term_nano) AS iv_nano FROM terms
        )
        SELECT terms.event_type,
               CAST(terms.pos AS BIGINT) AS pos,
               CAST(terms.neg AS BIGINT) AS neg,
               CAST(terms.woe_nano AS BIGINT) AS woe_nano,
               {sround_sql('CAST(terms.woe_nano AS DOUBLE) / 1e9', 6)} AS woe,
               CAST(terms.iv_term_nano AS BIGINT) AS iv_term_nano,
               {sround_sql('CAST(iv.iv_nano AS DOUBLE) / 1e9', 6)} AS iv
        FROM terms, iv
    """,
    description="Weight of Evidence per event_type against the "
    "high-amount label, plus the feature's Information Value: "
    "Laplace-smoothed ratios through the deterministic ln, WOE in "
    "exact nano-nats, IV terms floored to integers so the sum is "
    "order-free — one (type, label) partial agg, everything else on "
    "the 5-row category grid. The categorical-encoding companion to "
    "loo_target_encode.",
    tags=["ml", "evaluation", "encoding", "aggregate"],
)
def q_woe_iv_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.when(
            F.floor(F.col("value").cast("double") * 100 + F.lit(0.5)).cast("long")
            >= 20000,
            1,
        )
        .otherwise(0)
        .alias("label"),
    )
    g = e.groupBy("event_type").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
    )
    t = g.agg(
        F.sum("pos").alias("pos_tot"),
        F.sum("neg").alias("neg_tot"),
        F.count(F.lit(1)).alias("k"),
    )
    r = g.crossJoin(F.broadcast(t)).select(
        "event_type", "pos", "neg", "pos_tot", "neg_tot", "k",
        (
            ((F.col("pos") + 1) * (F.col("neg_tot") + F.col("k"))).cast("double")
            / ((F.col("neg") + 1) * (F.col("pos_tot") + F.col("k"))).cast("double")
        ).alias("ratio"),
        (
            (F.col("pos") + 1) * (F.col("neg_tot") + F.col("k"))
            - (F.col("neg") + 1) * (F.col("pos_tot") + F.col("k"))
        ).alias("share_num"),
    )
    # Column twin of _WOE_LN_NANO_SQL (r12): compact det_ln tree
    w = r.withColumn(
        "woe_nano",
        F.floor(det_ln_col(F.col("ratio")) * F.lit(1e9) + F.lit(0.5))
        .cast("long"),
    )
    terms = w.select(
        "event_type", "pos", "neg", "woe_nano",
        F.expr(
            "CAST(floor((CAST(share_num AS DOUBLE)"
            " / CAST((pos_tot + k) * (neg_tot + k) AS DOUBLE))"
            " * CAST(woe_nano AS DOUBLE) + 5e-1) AS BIGINT)"
        ).alias("iv_term_nano"),
    )
    iv = terms.agg(F.sum("iv_term_nano").alias("iv_nano"))
    return terms.crossJoin(F.broadcast(iv)).select(
        "event_type",
        F.col("pos").cast("long"),
        F.col("neg").cast("long"),
        F.col("woe_nano").cast("long"),
        sround(F.col("woe_nano").cast("double") / F.lit(1e9), 6).alias("woe"),
        F.col("iv_term_nano").cast("long"),
        sround(F.col("iv_nano").cast("double") / F.lit(1e9), 6).alias("iv"),
    )


@register(
    "conformal_split_threshold",
    # Split-conformal prediction threshold for the integer risk score
    # (Papadopoulos et al. 2002; Lei et al. 2018): an md5 half-split
    # into calibration/test, threshold = the ceil((n_cal+1)*(1-alpha))
    # -th smallest calibration score (alpha = 0.1), giving the
    # finite-sample marginal coverage guarantee P(score <= threshold)
    # >= 0.9 on exchangeable data — the statistically-grounded way to
    # pick the anomaly-flag cutoff the reference hardcodes as a
    # percentile (train.py's P97.5). Everything is integer-exact: the
    # rank r = (9*(n_cal+1) + 9) div 10 (exact ceiling), the threshold
    # a grid lookup (cumulative on the <=12-row score grid), and the
    # realized test coverage one int/int division.
    oracle=f"""
        WITH e AS (
            SELECT CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents,
                   event_type,
                   (epoch_us(ts) // 3600000000) % 24 AS hour,
                   CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)
                        || ':conf-v1'), 1, 8)) AS BIGINT) % 100 AS bucket
            FROM events
        ), s AS (
            SELECT least(cents // 5000, 8)
                   + CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
                   + CASE WHEN hour < 6 THEN 1 ELSE 0 END AS score,
                   CASE WHEN bucket < 50 THEN 1 ELSE 0 END AS is_cal
            FROM e
        ), g AS (
            SELECT score,
                   SUM(is_cal) AS cal_cnt,
                   COUNT(*) - SUM(is_cal) AS test_cnt
            FROM s GROUP BY 1
        ), n AS (
            SELECT SUM(cal_cnt) AS n_cal, SUM(test_cnt) AS n_test,
                   (9 * (SUM(cal_cnt) + 1) + 9) // 10 AS q_rank
            FROM g
        ), c AS (
            SELECT score, test_cnt,
                   SUM(cal_cnt) OVER (ORDER BY score
                       ROWS UNBOUNDED PRECEDING) AS cum_cal
            FROM g
        ), thr AS (
            SELECT MIN(c.score) AS threshold
            FROM c, n WHERE c.cum_cal >= n.q_rank
        ), cov AS (
            SELECT COALESCE(SUM(c.test_cnt), 0) AS n_test_covered
            FROM c, thr WHERE c.score <= thr.threshold
        )
        SELECT CAST(n.n_cal AS BIGINT) AS n_cal,
               CAST(n.n_test AS BIGINT) AS n_test,
               CAST(n.q_rank AS BIGINT) AS q_rank,
               CAST(thr.threshold AS BIGINT) AS threshold,
               CAST(cov.n_test_covered AS BIGINT) AS n_test_covered,
               {sround_sql(
                   'CAST(cov.n_test_covered AS DOUBLE)'
                   ' / CAST(n.n_test AS DOUBLE)', 6)} AS coverage
        FROM n, thr, cov
    """,
    description="Split-conformal anomaly threshold with the "
    "finite-sample coverage guarantee: md5 calibration/test split, "
    "threshold = exact order statistic ceil((n_cal+1)*0.9) on the "
    "score grid, realized test coverage as one exact division. One "
    "fact pass to the (score, split) grid; the sound replacement for "
    "a hardcoded percentile cutoff.",
    tags=["ml", "evaluation", "aggregate"],
)
def q_conformal_split_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("event_id").cast("string"), F.lit(":conf-v1"))
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % 100
        ).alias("bucket"),
    )
    s = e.select(
        (
            F.least(F.expr("cents div 5000"), F.lit(8))
            + F.when(F.col("event_type") == "error", 2).otherwise(0)
            + F.when(F.col("hour") < 6, 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
        F.when(F.col("bucket") < 50, 1).otherwise(0).alias("is_cal"),
    )
    g = s.groupBy("score").agg(
        F.sum("is_cal").alias("cal_cnt"),
        (F.count(F.lit(1)) - F.sum("is_cal")).alias("test_cnt"),
    )
    n = g.agg(
        F.sum("cal_cnt").alias("n_cal"),
        F.sum("test_cnt").alias("n_test"),
        F.expr("(9 * (SUM(cal_cnt) + 1) + 9) div 10").alias("q_rank"),
    )
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "score", "test_cnt", F.sum("cal_cnt").over(wc).alias("cum_cal")
    )
    thr = (
        c.crossJoin(F.broadcast(n))
        .filter(F.col("cum_cal") >= F.col("q_rank"))
        .agg(F.min("score").alias("threshold"))
    )
    cov = (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("score") <= F.col("threshold"))
        .agg(F.coalesce(F.sum("test_cnt"), F.lit(0)).alias("n_test_covered"))
    )
    return (
        n.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("n_cal").cast("long"),
            F.col("n_test").cast("long"),
            F.col("q_rank").cast("long"),
            F.col("threshold").cast("long"),
            F.col("n_test_covered").cast("long"),
            sround(
                F.col("n_test_covered").cast("double")
                / F.col("n_test").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


@register(
    "source_length_drift",
    # Per-source KS-style distribution audit of document lengths
    # against the whole corpus: for every source, the maximum permille
    # gap between its length ECDF and the global length ECDF — the
    # mixing-health check a curation pipeline runs before weighting
    # sources (a source whose length distribution has drifted from
    # the corpus usually changed extraction or got polluted).
    # Exactness: per-source cumulative counts via a source-PARTITIONED
    # window (parallel by construction); the global cumulative via the
    # two-pass prefix sum (no single-partition funnel); permilles are
    # integer floor divisions; the max-abs gap is an integer max.
    oracle="""
        WITH g AS (
            SELECT source, n_chars, COUNT(*) AS cnt
            FROM documents GROUP BY 1, 2
        ), src AS (
            SELECT source, n_chars, cnt,
                   SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
                       ROWS UNBOUNDED PRECEDING) AS r_src,
                   SUM(cnt) OVER (PARTITION BY source) AS n_src
            FROM g
        ), gl AS (
            SELECT n_chars,
                   SUM(cnt) OVER (ORDER BY n_chars
                       ROWS UNBOUNDED PRECEDING) AS r_glob,
                   SUM(cnt) OVER () AS n_glob
            FROM (SELECT n_chars, SUM(cnt) AS cnt FROM g GROUP BY 1)
        )
        SELECT src.source,
               CAST(MAX(src.n_src) AS BIGINT) AS n_docs,
               CAST(MAX(abs(src.r_src * 1000 // src.n_src
                            - gl.r_glob * 1000 // gl.n_glob))
                    AS BIGINT) AS max_abs_skew_permille
        FROM src JOIN gl USING (n_chars)
        GROUP BY 1
    """,
    description="Per-source length-distribution drift vs the corpus: "
    "max permille ECDF gap per source, from one (source, length) "
    "partial agg — source cumulatives by partitioned window, the "
    "global cumulative by the two-pass prefix sum. The pre-mixing "
    "source-health audit next to source_temperature_weights.",
    tags=["text", "drift", "llm-pipeline", "prefix"],
)
def q_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    g = g.localCheckpoint(eager=True)  # consumed by both cumulative paths
    ws = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("source")
    src = g.select(
        "source", "n_chars", "cnt",
        F.sum("cnt").over(ws).alias("r_src"),
        F.sum("cnt").over(wn).alias("n_src"),
    )
    gg = g.groupBy("n_chars").agg(F.sum("cnt").alias("gcnt"))
    glob = ordered_prefix_sum(gg, "n_chars", "gcnt", out_col="_p_glob")
    n_glob = gg.agg(F.sum("gcnt").alias("n_glob"))
    glob = glob.select(
        "n_chars", (F.col("_p_glob") + F.col("gcnt")).alias("r_glob")
    ).crossJoin(F.broadcast(n_glob))
    return (
        src.join(glob, "n_chars")
        .groupBy("source")
        .agg(
            F.max("n_src").cast("long").alias("n_docs"),
            F.max(
                F.abs(
                    F.expr("r_src * 1000 div n_src")
                    - F.expr("r_glob * 1000 div n_glob")
                )
            )
            .cast("long")
            .alias("max_abs_skew_permille"),
        )
    )


@register(
    "decision_stump_split",
    # A distributed decision-stump learner (CART's single split,
    # Breiman 1984) for the high-amount label over the integer risk
    # score: for every candidate threshold t, the weighted Gini
    # impurity numerator pos_L*neg_L/n_L + pos_R*neg_R/n_R, argmin
    # with deterministic ties-to-smallest-threshold. Exactness: the
    # (score, label) grid is <=24 cells; cumulatives run on the grid;
    # each impurity is two divisions of exact int64 products summed
    # once (identical expression both engines); the argmin is a
    # min-scalar join + equality filter, no ordering anywhere. The
    # information-gain denominator (parent impurity) is exact too.
    oracle=f"""
        WITH e AS (
            SELECT CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents,
                   event_type,
                   (epoch_us(ts) // 3600000000) % 24 AS hour
            FROM events
        ), s AS (
            SELECT CASE WHEN cents >= 20000 THEN 1 ELSE 0 END AS label,
                   least(cents // 5000, 8)
                   + CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
                   + CASE WHEN hour < 6 THEN 1 ELSE 0 END AS score
            FROM e
        ), g AS (
            SELECT score, COUNT(*) AS cnt, SUM(label) AS pos
            FROM s GROUP BY 1
        ), t AS (
            SELECT SUM(cnt) AS n, SUM(pos) AS pos_tot FROM g
        ), c AS (
            SELECT score,
                   SUM(cnt) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS n_l,
                   SUM(pos) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS pos_l
            FROM g
        ), cand AS (
            SELECT c.score AS threshold,
                   c.n_l, c.pos_l,
                   t.n - c.n_l AS n_r, t.pos_tot - c.pos_l AS pos_r,
                   CAST(c.pos_l * (c.n_l - c.pos_l) AS DOUBLE)
                       / CAST(c.n_l AS DOUBLE)
                   + CAST((t.pos_tot - c.pos_l)
                          * ((t.n - c.n_l) - (t.pos_tot - c.pos_l)) AS DOUBLE)
                       / CAST(t.n - c.n_l AS DOUBLE) AS imp
            FROM c, t
            WHERE c.n_l > 0 AND t.n - c.n_l > 0
        ), best AS (
            SELECT MIN(imp) AS min_imp FROM cand
        )
        SELECT CAST(MIN(cand.threshold) AS BIGINT) AS threshold,
               CAST(MIN(t.n) AS BIGINT) AS n,
               CAST(MIN(cand.n_l) AS BIGINT) AS n_l,
               CAST(MIN(cand.pos_l) AS BIGINT) AS pos_l,
               {sround_sql('MIN(cand.imp)', 6)} AS split_impurity,
               {sround_sql(
                   'MIN(CAST(t.pos_tot * (t.n - t.pos_tot) AS DOUBLE)'
                   ' / CAST(t.n AS DOUBLE))', 6)} AS parent_impurity
        FROM cand, t, best
        WHERE cand.imp = best.min_imp
          AND cand.threshold = (
              SELECT MIN(threshold) FROM cand, best WHERE imp = min_imp
          )
    """,
    description="Distributed decision stump: the exact best single "
    "split of the integer risk score against the high-amount label by "
    "weighted Gini impurity — grid cumulatives, two exact divisions "
    "per candidate, scalar-min argmin with deterministic ties. One "
    "fact pass; the base learner a distributed boosting loop would "
    "call per round.",
    tags=["ml", "aggregate"],
)
def q_decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour"),
    )
    s = e.select(
        F.when(F.col("cents") >= 20000, 1).otherwise(0).alias("label"),
        (
            F.least(F.expr("cents div 5000"), F.lit(8))
            + F.when(F.col("event_type") == "error", 2).otherwise(0)
            + F.when(F.col("hour") < 6, 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
    )
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    t = g.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("pos_tot"))
    wb = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        F.col("score").alias("threshold"),
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("n_l"),
        F.coalesce(F.sum("pos").over(wb), F.lit(0)).alias("pos_l"),
    )
    cand = (
        c.crossJoin(F.broadcast(t))
        .filter((F.col("n_l") > 0) & (F.col("n") - F.col("n_l") > 0))
        .withColumn(
            "imp",
            (F.col("pos_l") * (F.col("n_l") - F.col("pos_l"))).cast("double")
            / F.col("n_l").cast("double")
            + (
                (F.col("pos_tot") - F.col("pos_l"))
                * (
                    (F.col("n") - F.col("n_l"))
                    - (F.col("pos_tot") - F.col("pos_l"))
                )
            ).cast("double")
            / (F.col("n") - F.col("n_l")).cast("double"),
        )
    )
    best = cand.agg(F.min("imp").alias("min_imp"))
    hit = cand.crossJoin(F.broadcast(best)).filter(
        F.col("imp") == F.col("min_imp")
    )
    first = hit.agg(F.min("threshold").alias("best_t"))
    return (
        hit.crossJoin(F.broadcast(first))
        .filter(F.col("threshold") == F.col("best_t"))
        .select(
            F.col("threshold").cast("long"),
            F.col("n").cast("long"),
            F.col("n_l").cast("long"),
            F.col("pos_l").cast("long"),
            sround(F.col("imp"), 6).alias("split_impurity"),
            sround(
                (F.col("pos_tot") * (F.col("n") - F.col("pos_tot"))).cast(
                    "double"
                )
                / F.col("n").cast("double"),
                6,
            ).alias("parent_impurity"),
        )
    )


@register(
    "group_kfold_balance",
    # Group-k-fold assignment + balance audit: folds keyed on the md5
    # of user_id (GROUP k-fold — every event of a user lands in one
    # fold, the leakage-safe CV split for user-correlated data), then
    # the audit a pipeline runs before trusting the folds: per-fold
    # row/user counts, purchase share, and the fold's row share in
    # integer permille. All exact integers.
    oracle="""
        WITH e AS (
            SELECT event_type,
                   user_id,
                   CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)
                        || ':fold-v1'), 1, 8)) AS BIGINT) % 5 AS fold
            FROM events
        ), t AS (
            SELECT COUNT(*) AS n_total FROM e
        )
        SELECT CAST(fold AS BIGINT) AS fold,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    * 1000 // COUNT(*) AS BIGINT) AS purchase_permille,
               CAST(COUNT(*) * 1000 // MAX(t.n_total) AS BIGINT)
                   AS rows_permille
        FROM e, t
        GROUP BY 1
    """,
    description="Leakage-safe group-k-fold assignment (md5 of user_id "
    "-> 5 folds; a user's events never straddle folds) with the "
    "balance audit: per-fold rows, users, purchase share and row "
    "share in exact permille — the CV-split health check next to "
    "deterministic_split.",
    tags=["ml", "sampling", "split", "aggregate"],
)
def q_group_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":fold-v1"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 5
    )
    e = ev.select("event_type", "user_id", fold.alias("fold"))
    t = e.agg(F.count(F.lit(1)).alias("n_total"))
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (
        e.crossJoin(F.broadcast(t))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(is_p).cast("long").alias("n_purchases"),
            F.expr(
                "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
                " * 1000 div COUNT(*)"
            )
            .cast("long")
            .alias("purchase_permille"),
            F.expr("COUNT(*) * 1000 div MAX(n_total)")
            .cast("long")
            .alias("rows_permille"),
        )
        .select(
            F.col("fold").cast("long"),
            "n_rows", "n_users", "n_purchases",
            "purchase_permille", "rows_permille",
        )
    )


@register(
    "ransac_trend_daily",
    # Deterministic RANSAC line fit (Fischler & Bolles 1981) of the
    # daily revenue trend — the breakdown-point-50% companion to
    # theilsen_daily_trend (median-of-slopes) and ols_trend_daily
    # (breakdown 0): 8 anchor days chosen by smallest md5 (no RNG),
    # all 28 anchor pairs as candidate lines, inliers counted by the
    # exact integer residual test 10*|(y-y1)*dx - (x-x1)*dy| <=
    # mean_daily_cents*dx (residual within a tenth of the mean daily
    # total), best candidate by (inliers desc, x1, x2), then an exact
    # OLS refit on the winner's inlier set. Everything is integer
    # until the two final determinant divisions (per-factor double
    # casts — same overflow discipline as zipf_slope_fit). All work
    # past the one fact pass runs on the day grain (bounded by the
    # calendar) x 28 candidates.
    oracle=f"""
        WITH d AS (
            SELECT epoch_us(ts) // 86400000000 AS day,
                   SUM(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                            AS BIGINT)) AS cents
            FROM events GROUP BY 1
        ), base AS (
            SELECT day - (SELECT MIN(day) FROM d) AS x, cents AS y FROM d
        ), m AS (
            SELECT COUNT(*) AS n_days, SUM(y) // COUNT(*) AS mean_c
            FROM base
        ), anch AS (
            SELECT x, y FROM base
            ORDER BY md5(CAST(x AS VARCHAR) || ':ransac-v1'), x
            LIMIT 8
        ), cand AS (
            SELECT a.x AS x1, a.y AS y1, b.x AS x2,
                   b.x - a.x AS dx, b.y - a.y AS dy
            FROM anch a JOIN anch b ON a.x < b.x
        ), fit AS (
            SELECT c.x1, c.y1, c.x2, c.dx, c.dy,
                   SUM(CASE WHEN 10 * abs((p.y - c.y1) * c.dx
                                          - (p.x - c.x1) * c.dy)
                                 <= m.mean_c * c.dx
                            THEN 1 ELSE 0 END) AS inliers
            FROM cand c, base p, m
            GROUP BY 1, 2, 3, 4, 5
        ), best AS (
            SELECT * FROM fit ORDER BY inliers DESC, x1, x2 LIMIT 1
        ), inl AS (
            SELECT p.x, p.y
            FROM base p, best b, m
            WHERE 10 * abs((p.y - b.y1) * b.dx - (p.x - b.x1) * b.dy)
                  <= m.mean_c * b.dx
        ), s AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(x * y) AS sxy
            FROM inl
        )
        SELECT CAST(m.n_days AS BIGINT) AS n_days,
               CAST(best.x1 AS BIGINT) AS best_x1,
               CAST(best.x2 AS BIGINT) AS best_x2,
               CAST(best.inliers AS BIGINT) AS n_inliers,
               {sround_sql(
                   '(CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))'
                   ' / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))', 6)}
                   AS slope_cents_per_day,
               {sround_sql(
                   '(CAST(s.sxx AS DOUBLE) * CAST(s.sy AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sxy AS DOUBLE))'
                   ' / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))', 6)}
                   AS intercept_cents
        FROM s, best, m
    """,
    description="Deterministic RANSAC daily-trend fit: md5-chosen "
    "anchor days (no RNG), 28 candidate lines, exact integer inlier "
    "tests against a tenth-of-mean tolerance, deterministic best-"
    "candidate ties, exact OLS refit on the inlier set — the robust "
    "regression tier between Theil-Sen and plain OLS, all day-grain "
    "past one fact pass.",
    tags=["anomaly", "trend", "aggregate"],
)
def q_ransac_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day")).agg(
        F.sum(
            F.floor(F.col("value").cast("double") * 100 + F.lit(0.5)).cast(
                "long"
            )
        ).alias("cents")
    )
    d0 = d.agg(F.min("day").alias("day0"))
    base = d.crossJoin(F.broadcast(d0)).select(
        (F.col("day") - F.col("day0")).alias("x"), F.col("cents").alias("y")
    )
    base = base.localCheckpoint(eager=True)  # day grain, many consumers
    m = base.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("SUM(y) div COUNT(*)").alias("mean_c"),
    )
    anch = base.orderBy(
        F.md5(F.concat(F.col("x").cast("string"), F.lit(":ransac-v1"))), "x"
    ).limit(8)
    a = anch.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = anch.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    cand = a.join(b, F.col("x1") < F.col("x2")).select(
        "x1", "y1", "x2",
        (F.col("x2") - F.col("x1")).alias("dx"),
        (F.col("y2") - F.col("y1")).alias("dy"),
    )
    resid_ok = (
        10
        * F.abs(
            (F.col("y") - F.col("y1")) * F.col("dx")
            - (F.col("x") - F.col("x1")) * F.col("dy")
        )
        <= F.col("mean_c") * F.col("dx")
    )
    fit = (
        F.broadcast(cand)
        .crossJoin(base)
        .crossJoin(F.broadcast(m))
        .groupBy("x1", "y1", "x2", "dx", "dy")
        .agg(F.sum(F.when(resid_ok, 1).otherwise(0)).alias("inliers"))
    )
    best = fit.orderBy(F.col("inliers").desc(), "x1", "x2").limit(1)
    inl = (
        base.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(m))
        .filter(resid_ok)
        .select("x", "y")
    )
    sagg = inl.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd, sxd, syd, sxxd, sxyd = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
    )
    det = nd * sxxd - sxd * sxd
    return (
        sagg.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("n_days").cast("long"),
            F.col("x1").cast("long").alias("best_x1"),
            F.col("x2").cast("long").alias("best_x2"),
            F.col("inliers").cast("long").alias("n_inliers"),
            sround((nd * sxyd - sxd * syd) / det, 6).alias(
                "slope_cents_per_day"
            ),
            sround((sxxd * syd - sxd * sxyd) / det, 6).alias(
                "intercept_cents"
            ),
        )
    )


@register(
    "ab_test_proportions",
    # Two-proportion A/B test readout: users md5-split into arms, the
    # metric is user-level conversion (>= 1 purchase), output = exact
    # counts, rates, absolute difference, and the pooled two-sample
    # z-statistic. Determinism: rates and the z are doubles computed
    # from exact integers through ONE fixed expression tree (the only
    # non-rational step is sqrt, correctly rounded identically in both
    # engines — the ann_exact_quantized precedent). The experimentation
    # readout every scoring platform bolts on first.
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)
                        || ':ab-v1'), 1, 8)) AS BIGINT) % 2 AS arm,
                   MAX(CASE WHEN event_type = 'purchase'
                            AND CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                                     AS BIGINT) >= 20000
                            THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY 1, 2
        ), s AS (
            SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                   SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
                   SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS c_a,
                   SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS c_b
            FROM u
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(c_a AS BIGINT) AS conv_a, CAST(c_b AS BIGINT) AS conv_b,
               {sround_sql('CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)', 6)}
                   AS rate_a,
               {sround_sql('CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)', 6)}
                   AS rate_b,
               CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b
                    THEN NULL ELSE {sround_sql(
                   '(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)'
                   ' - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))'
                   ' / sqrt(CAST(c_a + c_b AS DOUBLE)'
                   ' / CAST(n_a + n_b AS DOUBLE)'
                   ' * (1e0 - CAST(c_a + c_b AS DOUBLE)'
                   ' / CAST(n_a + n_b AS DOUBLE))'
                   ' * (1e0 / CAST(n_a AS DOUBLE)'
                   ' + 1e0 / CAST(n_b AS DOUBLE)))', 6)} END AS z_stat
        FROM s
    """,
    description="A/B experiment readout: md5 user split, user-level "
    "conversion, exact counts and the pooled two-proportion z — one "
    "user-keyed agg then scalar math, deterministic to the last bit "
    "(sqrt is the only non-rational step, correctly rounded in both "
    "engines).",
    tags=["analytics", "evaluation", "aggregate"],
)
def q_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab-v1"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 2
    )
    hv = (
        F.col("event_type") == "purchase"
    ) & (
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5)).cast("long")
        >= 20000
    )
    u = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.max(F.when(hv, 1).otherwise(0)).alias("converted")
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias(
            "c_a"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias(
            "c_b"
        ),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    rb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (ra - rb) / F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return s.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("c_b").cast("long").alias("conv_b"),
        sround(ra, 6).alias("rate_a"),
        sround(rb, 6).alias("rate_b"),
        F.when(
            (F.col("c_a") + F.col("c_b") == 0)
            | (F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")),
            F.lit(None).cast("double"),
        )
        .otherwise(sround(z, 6))
        .alias("z_stat"),
    )


@register(
    "anomaly_monitoring_e2e",
    # The financial-side capstone composition, mirroring the curation
    # spine on the LLM side: score every event (the deterministic risk
    # fixture) -> pick the flag threshold by SPLIT-CONFORMAL
    # calibration (exact ceil((n+1)*0.9) order statistic on the md5
    # calibration half) -> flag the test half STRICTLY ABOVE the
    # threshold -> roll flag rates up by day -> carry the CUSUM-style
    # cumulative deviation of daily flags from the overall test rate
    # (in exact integer permille-days, via the two-pass prefix sum
    # over the day grain). One declarative plan: evaluation,
    # governance, and drift monitoring composed, hash-exact end to
    # end.
    oracle=f"""
        WITH e AS (
            SELECT CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                       AS cents,
                   event_type,
                   (epoch_us(ts) // 3600000000) % 24 AS hour,
                   epoch_us(ts) // 86400000000 AS day,
                   CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)
                        || ':conf-v1'), 1, 8)) AS BIGINT) % 100 AS bucket
            FROM events
        ), s AS (
            SELECT day,
                   least(cents // 5000, 8)
                   + CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
                   + CASE WHEN hour < 6 THEN 1 ELSE 0 END AS score,
                   CASE WHEN bucket < 50 THEN 1 ELSE 0 END AS is_cal
            FROM e
        ), g AS (
            SELECT score, SUM(is_cal) AS cal_cnt FROM s GROUP BY 1
        ), n AS (
            SELECT SUM(cal_cnt) AS n_cal,
                   (9 * (SUM(cal_cnt) + 1) + 9) // 10 AS q_rank
            FROM g
        ), c AS (
            SELECT score,
                   SUM(cal_cnt) OVER (ORDER BY score
                       ROWS UNBOUNDED PRECEDING) AS cum_cal
            FROM g
        ), thr AS (
            SELECT MIN(c.score) AS threshold FROM c, n
            WHERE c.cum_cal >= n.q_rank
        ), daily AS (
            SELECT s.day - (SELECT MIN(day) FROM s) AS day_idx,
                   COUNT(*) AS n_test,
                   SUM(CASE WHEN s.score > thr.threshold THEN 1 ELSE 0 END)
                       AS n_flagged
            FROM s, thr WHERE s.is_cal = 0
            GROUP BY 1
        ), tot AS (
            SELECT SUM(n_test) AS nt, SUM(n_flagged) AS nf FROM daily
        ), dev AS (
            SELECT day_idx, n_test, n_flagged,
                   n_flagged * 1000 * (SELECT nt FROM tot)
                   - n_test * 1000 * (SELECT nf FROM tot) AS dev_num
            FROM daily
        )
        SELECT CAST(day_idx AS BIGINT) AS day_idx,
               CAST(n_test AS BIGINT) AS n_test,
               CAST(n_flagged AS BIGINT) AS n_flagged,
               CAST(n_flagged * 1000 // n_test AS BIGINT) AS flag_permille,
               CAST(SUM(dev_num) OVER (ORDER BY day_idx
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_dev_num
        FROM dev
    """,
    description="Anomaly-monitoring pipeline as ONE plan: conformal "
    "threshold from the calibration half (exact order statistic) -> "
    "flags on the test half -> daily flag rates -> integer CUSUM "
    "deviation from the overall rate via the day-grain prefix sum. "
    "The financial capstone composition beside curation_pipeline_v2: "
    "evaluation + governance + drift monitoring, hash-exact.",
    tags=["anomaly", "evaluation", "drift", "composition", "prefix"],
)
def q_anomaly_monitoring_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("event_id").cast("string"), F.lit(":conf-v1"))
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % 100
        ).alias("bucket"),
    )
    s = e.select(
        "day",
        (
            F.least(F.expr("cents div 5000"), F.lit(8))
            + F.when(F.col("event_type") == "error", 2).otherwise(0)
            + F.when(F.col("hour") < 6, 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
        F.when(F.col("bucket") < 50, 1).otherwise(0).alias("is_cal"),
    )
    # pin: the score frame feeds the calibration grid AND the daily
    # test rollup — without the pin both paths replay the fact scan
    s = s.localCheckpoint(eager=True)
    g = s.groupBy("score").agg(F.sum("is_cal").alias("cal_cnt"))
    n = g.agg(
        F.expr("(9 * (SUM(cal_cnt) + 1) + 9) div 10").alias("q_rank")
    )
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select("score", F.sum("cal_cnt").over(wc).alias("cum_cal"))
    thr = (
        c.crossJoin(F.broadcast(n))
        .filter(F.col("cum_cal") >= F.col("q_rank"))
        .agg(F.min("score").alias("threshold"))
    )
    d0 = s.agg(F.min("day").alias("day0"))
    daily = (
        s.filter(F.col("is_cal") == 0)
        .crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(d0))
        .groupBy((F.col("day") - F.col("day0")).alias("day_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("score") > F.col("threshold"), 1).otherwise(0)
            ).alias("n_flagged"),
        )
    )
    tot = daily.agg(F.sum("n_test").alias("nt"), F.sum("n_flagged").alias("nf"))
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day_idx", "n_test", "n_flagged",
        (
            F.col("n_flagged") * 1000 * F.col("nt")
            - F.col("n_test") * 1000 * F.col("nf")
        ).alias("dev_num"),
    )
    dev = ordered_prefix_sum(dev, "day_idx", "dev_num", out_col="_cusum0")
    return dev.select(
        F.col("day_idx").cast("long"),
        F.col("n_test").cast("long"),
        F.col("n_flagged").cast("long"),
        F.expr("n_flagged * 1000 div n_test").cast("long").alias(
            "flag_permille"
        ),
        (F.col("_cusum0") + F.col("dev_num")).cast("long").alias(
            "cusum_dev_num"
        ),
    )


@register(
    "kaplan_meier_conversion",
    # Kaplan-Meier survival estimator (Kaplan & Meier 1958) for
    # time-to-first-purchase with REAL right-censoring: every user
    # enters at their first event day and is observed until the
    # global end of data, so later-joining users censor earlier — the
    # exact shape production churn/conversion curves have. S(t) =
    # prod_{t_i <= t} (1 - d_i/n_i) is computed in logs through BOTH
    # deterministic transcendentals: each factor's ln floors to
    # nano-nats, the cumulative runs on the day grid via the two-pass
    # prefix sum (pinned chain — the Wasserstein lesson), and the
    # product comes back through det_exp, floored to micro units.
    # Censorings tied to an event day stay at risk at that day (the
    # standard KM convention — encoded identically in both engines by
    # building n_risk from the >= t tail). A day where everyone at
    # risk converts takes the -99 nano-nat sentinel (survival
    # underflows to 0 identically both sides).
    oracle=f"""
        WITH e AS (
            SELECT user_id,
                   epoch_us(ts) // 86400000000 AS day,
                   event_type
            FROM events
        ), horizon AS (
            SELECT MAX(day) AS max_day FROM e
        ), u AS (
            SELECT user_id,
                   MIN(day) AS entry_day,
                   MIN(CASE WHEN event_type = 'purchase' THEN day END)
                       AS p_day
            FROM e GROUP BY 1
        ), t AS (
            SELECT user_id,
                   CASE WHEN p_day IS NULL THEN horizon.max_day - entry_day
                        ELSE p_day - entry_day END AS tte,
                   CASE WHEN p_day IS NULL THEN 0 ELSE 1 END AS is_event
            FROM u, horizon
        ), g AS (
            SELECT tte, SUM(is_event) AS d,
                   COUNT(*) - SUM(is_event) AS c
            FROM t GROUP BY 1
        ), r AS (
            SELECT tte, d, c,
                   SUM(d + c) OVER (ORDER BY tte
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS leaving_by_t,
                   SUM(d + c) OVER () AS n_total
            FROM g
        ), k AS (
            SELECT tte, d, c,
                   n_total - leaving_by_t + d + c AS n_risk
            FROM r
        ), terms AS (
            SELECT tte, d, c, n_risk, {_KM_SAFE_RATIO_SQL} AS km_ratio
            FROM k
        ), raw AS (
            SELECT tte, d, c, n_risk, {_KM_RAW_NANO_SQL} AS raw_nano
            FROM terms
        ), nano AS (
            SELECT tte, d, c, n_risk, {_KM_TERM_SQL} AS term_nano
            FROM raw
        ), cum AS (
            SELECT tte, d, c, n_risk,
                   SUM(term_nano) OVER (ORDER BY tte
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_nano
            FROM nano
        ), fin AS (
            SELECT tte, d, c, n_risk,
                   greatest(CAST(cum_nano AS DOUBLE) / 1e9, -4e1) AS km_x
            FROM cum
        )
        SELECT CAST(tte AS BIGINT) AS tte_days,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS n_events,
               CAST(c AS BIGINT) AS n_censored,
               {sround_sql(f"CAST({_KM_SURV_SQL} AS DOUBLE) / 1e6", 6)}
                   AS survival
        FROM fin WHERE d > 0
    """,
    description="Kaplan-Meier time-to-first-purchase curve with real "
    "right-censoring (entry at first activity, observation ends at "
    "the data horizon): at-risk tails from grid prefix sums, each "
    "survival factor's ln floored to nano-nats, the product recovered "
    "through the deterministic exp — the survival-analysis estimator, "
    "hash-exact, one fact pass then day-grain math.",
    tags=["analytics", "survival", "aggregate", "prefix"],
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "event_type",
    )
    horizon = e.agg(F.max("day").alias("max_day"))
    u = e.groupBy("user_id").agg(
        F.min("day").alias("entry_day"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("day"))
        ).alias("p_day"),
    )
    t = u.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("p_day").isNull(), F.col("max_day") - F.col("entry_day")
        )
        .otherwise(F.col("p_day") - F.col("entry_day"))
        .alias("tte"),
        F.when(F.col("p_day").isNull(), 0).otherwise(1).alias("is_event"),
    )
    g = t.groupBy("tte").agg(
        F.sum("is_event").alias("d"),
        (F.count(F.lit(1)) - F.sum("is_event")).alias("c"),
    )
    g = g.withColumn("_leave", F.col("d") + F.col("c"))
    g = g.localCheckpoint(eager=True)  # grid; consumed by both prefixes
    n_total = g.agg(F.sum("_leave").alias("n_total"))
    r = ordered_prefix_sum(g, "tte", "_leave", out_col="_before", pin=True)
    k = r.crossJoin(F.broadcast(n_total)).select(
        "tte", "d", "c",
        (F.col("n_total") - F.col("_before")).alias("n_risk"),
    )
    terms = k.withColumn("km_ratio", F.expr(_KM_SAFE_RATIO_SQL))
    # Column twin of _KM_RAW_NANO_SQL (r12): compact det_ln tree
    nano = terms.withColumn(
        "raw_nano",
        F.floor(det_ln_col(F.col("km_ratio")) * F.lit(1e9) + F.lit(0.5))
        .cast("long"),
    ).withColumn("term_nano", F.expr(_KM_TERM_SQL))
    cum = ordered_prefix_sum(nano, "tte", "term_nano", out_col="_cum0", pin=True)
    # r12: the km_x materialization pin is gone — det_exp_col binds its
    # input ONCE (let-bound), so projection collapse can no longer
    # replicate the greatest(...)/1e9 expression into ~160 ladder
    # references; the codegen-size failure the pin guarded against is
    # structurally impossible in the compact form.
    fin = cum.withColumn(
        "km_x",
        F.greatest(
            (F.col("_cum0") + F.col("term_nano")).cast("double") / F.lit(1e9),
            F.lit(-40.0),
        ),
    )
    return fin.filter(F.col("d") > 0).select(
        F.col("tte").cast("long").alias("tte_days"),
        F.col("n_risk").cast("long"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        sround(
            F.floor(det_exp_col(F.col("km_x")) * F.lit(1e6) + F.lit(0.5))
            .cast("double") / F.lit(1e6), 6
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Hash-level oracle surrogates for the ensemble kernel MATH (round 11,
# VERDICT r10 task 4 — the ann_ivfpq_exact_quantized pattern applied to
# M4-M10): each query INJECTS fixed integer/dyadic model parameters into
# the REAL scoring kernel (the same broadcast + Arrow pandas_udf code
# path the trained tiers run), arranges every intermediate to be exactly
# representable in float64, and emits integers a DuckDB oracle rebuilds
# relationally. The trained tiers stay rows-only (their fits are
# engine-specific); these pin the arithmetic those fits feed.
# ---------------------------------------------------------------------------

# Shared spec: ONE literal structure generates BOTH the injected numpy
# parameters and the oracle SQL text, so the two sides cannot drift.

# Isolation trees: (feature, threshold, left, right) internal nodes,
# None = leaf. Thresholds are integers against floor(x*1000+0.5)
# quantized embeddings (range ~±530). Every leaf is treated as a
# singleton (c(1) = 0), so leaf_value == depth and the summed path
# length over trees is an exact INTEGER.
_IF_TREES = [
    (0, 0, (1, -100, None, (2, 150, None, None)), None),
    (3, 50, None, (4, -50, None, (5, 0, None, None))),
    (6, 100, (7, -150, None, None), (0, 200, (1, 60, None, None), None)),
    (2, -40, (3, 130, None, (6, -220, None, None)), (4, 10, None, None)),
]


def _if_tree_arrays(spec):
    """Flat-array form of one tree spec for IsolationForestModel.trees."""
    import numpy as np

    feature, threshold, left, right, leafv = [], [], [], [], []

    def rec(node, depth):
        i = len(feature)
        feature.append(-1)
        threshold.append(0.0)
        left.append(-1)
        right.append(-1)
        leafv.append(float(depth))
        if node is not None:
            f, t, ln, rn = node
            feature[i] = f
            threshold[i] = float(t)
            left[i] = rec(ln, depth + 1)
            right[i] = rec(rn, depth + 1)
        return i

    rec(spec, 0)
    return (
        np.asarray(feature, dtype=np.int32),
        np.asarray(threshold, dtype=np.float64),
        np.asarray(left, dtype=np.int32),
        np.asarray(right, dtype=np.int32),
        np.asarray(leafv, dtype=np.float64),
    )


def _if_tree_sql(node, depth=0):
    """The same tree as a DuckDB CASE walk over 1-indexed list q."""
    if node is None:
        return str(depth)
    f, t, ln, rn = node
    return (
        f"CASE WHEN q[{f + 1}] < {t} THEN "
        f"{_if_tree_sql(ln, depth + 1)} ELSE {_if_tree_sql(rn, depth + 1)} END"
    )


_IF_PATH_SQL = " + ".join(f"({_if_tree_sql(t)})" for t in _IF_TREES)

# LOF reference set: 1-D positions chosen so EVERY distance the kernel
# meets is exactly representable and tie-free. Even progression-free
# integers (no point is the midpoint of two others -> each reference
# row's kNN distances are distinct); query points sit on 4m + 0.5
# (half-integers), and even+even sums can never equal the odd 2q, so
# query->reference distances are tie-free too. All reachability sums
# are then sums of dyadic rationals — exact in float64 in ANY
# summation order — and the only cross-engine drift left is the final
# mean-of-3-lrd ordering (~ulps), absorbed by the 2^24 fixed-point
# emission (guard band machine-checked in tests/test_ml.py).
_LOF_REFS = [0, 2, 6, 14, 24, 40, 60, 86]
_LOF_K = 3
_LOF_QMOD = 23  # query position = (vec_id % 23) * 4 + 0.5

_LOF_REFS_SQL = ", ".join(
    f"({i}, CAST({p} AS DOUBLE))" for i, p in enumerate(_LOF_REFS)
)

# PCA reconstruction: k=4 components with DISJOINT 16-slot supports and
# entries ±1/4 — exactly orthonormal with dyadic entries, so the rank-k
# residual energy is an exact multiple of 1/16 and (total-captured)*16
# is an exact INTEGER both engines agree on bit-for-bit. The mean
# vector is a small integer pattern so centering is exercised.
_PCA_D, _PCA_K, _PCA_SUP = 64, 4, 16
_PCA_MU = [(i % 5) - 2 for i in range(_PCA_D)]
_PCA_SIGN = [1 if i % 2 == 0 else -1 for i in range(_PCA_D)]

_PCA_MU_SQL = "[" + ", ".join(str(v) for v in _PCA_MU) + "]"


def _pca_proj_sql(c: int) -> str:
    lo = _PCA_SUP * c
    signs = "[" + ", ".join(str(s) for s in _PCA_SIGN[lo : lo + _PCA_SUP]) + "]"
    return (
        f"(list_sum(list_transform(list_zip(list_slice(c, {lo + 1}, "
        f"{lo + _PCA_SUP}), {signs}), p -> p[1] * p[2])) * 0.25)"
    )


_PCA_CAPTURED_SQL = " + ".join(
    f"({_pca_proj_sql(c)} * {_pca_proj_sql(c)})" for c in range(_PCA_K)
)


@register(
    "ml_kernel_iforest_exact",
    # Hash-level oracle surrogate for the Isolation Forest SCORING
    # kernel (ml/iforest.py score_col — Liu et al. 2008): four fixed
    # integer trees are injected into the real broadcast-tree Arrow
    # kernel; every leaf is a singleton so the summed path length is
    # an exact integer, recovered from the kernel's s(x) = 2^(-E[h]/c)
    # output by the inverse transform (exercising the normalization
    # math in both directions). DuckDB walks the same trees as CASE
    # expressions. The trained tier (ml_iforest_embeddings) stays
    # rows-only; this pins the traversal + score arithmetic it runs.
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS q
            FROM embeddings WHERE vec_id < 400
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST({_IF_PATH_SQL} AS BIGINT) AS path_total
        FROM e
    """,
    description="Isolation-forest kernel math pinned at hash level: "
    "injected integer trees through the REAL broadcast-tree Arrow "
    "scoring kernel (singleton leaves => integer path sums), score "
    "inverted back to the exact path total; DuckDB re-walks the trees "
    "relationally. Constant-cost 400-vector verification slice.",
    tags=["ml", "iforest", "oracle-surrogate"],
)
def q_ml_kernel_iforest_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..ml.iforest import IsolationForestModel, _c_factor

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("double"),
    )
    base = emb.select(F.col("vec_id").cast("long").alias("vec_id"), quant.alias("q"))
    m = IsolationForestModel(n_estimators=len(_IF_TREES), max_samples=256)
    m.trees = [_if_tree_arrays(t) for t in _IF_TREES]
    m._c_psi = _c_factor(256)
    score = m.score_col(base, "q")
    # invert s = 2^(-(T/N)/c): T = -log2(s) * N * c. T is an integer
    # <= 12 and the float round-trip error is ~1e-14, so round() is
    # exact — pinned against a direct integer tree walk in pytest.
    path_total = F.round(
        -F.log2(score) * F.lit(float(len(_IF_TREES)) * m._c_psi)
    ).cast("long")
    return base.select("vec_id", path_total.alias("path_total"))


@register(
    "ml_kernel_lof_exact",
    # Hash-level oracle surrogate for the LOF novelty kernel
    # (ml/lof.py — Breunig et al. 2000): an 8-point 1-D integer
    # reference set is injected through the REAL _fit_reference
    # (chunked kNN, k-distance, lrd) and the REAL broadcast Arrow
    # scoring kernel (BLAS distance matmul, argpartition kNN,
    # reachability, lrd ratio). The geometry makes every distance and
    # reachability sum exactly representable (see _LOF_REFS note);
    # DuckDB rebuilds kNN/reach/lrd/ratio relationally and both sides
    # emit floor(lof * 2^24 + 0.5) — machine-checked >= 1e-6 from any
    # rounding boundary vs cross-engine drift of ~1e-8 scaled units.
    oracle=f"""
        WITH refs(rid, pos) AS (VALUES {_LOF_REFS_SQL}),
        q AS (
            SELECT vec_id,
                   (vec_id % {_LOF_QMOD}) * 4 + 0.5 AS pos
            FROM embeddings WHERE vec_id < 400
        ), rr AS (
            SELECT a.rid, b.rid AS nb, abs(a.pos - b.pos) AS d,
                   row_number() OVER (PARTITION BY a.rid
                                      ORDER BY abs(a.pos - b.pos)) AS rk
            FROM refs a JOIN refs b ON a.rid <> b.rid
        ), knn_r AS (
            SELECT rid, nb, d FROM rr WHERE rk <= {_LOF_K}
        ), kdist AS (
            SELECT rid, MAX(d) AS kd FROM knn_r GROUP BY rid
        ), lrd_r AS (
            SELECT k.rid,
                   {_LOF_K}.0 / greatest(SUM(greatest(kb.kd, k.d)) / {_LOF_K}.0,
                                         1e-12) AS lrd
            FROM knn_r k JOIN kdist kb ON kb.rid = k.nb
            GROUP BY k.rid
        ), qn AS (
            SELECT q.vec_id, r.rid, abs(q.pos - r.pos) AS d,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY abs(q.pos - r.pos)) AS rk
            FROM q CROSS JOIN refs r
        ), knn_q AS (
            SELECT vec_id, rid, d FROM qn WHERE rk <= {_LOF_K}
        ), agg AS (
            SELECT kq.vec_id,
                   {_LOF_K}.0 / greatest(SUM(greatest(kd.kd, kq.d)) / {_LOF_K}.0,
                                         1e-12) AS lrd_x,
                   SUM(lr.lrd) / {_LOF_K}.0 AS mean_lrd
            FROM knn_q kq
            JOIN kdist kd ON kd.rid = kq.rid
            JOIN lrd_r lr ON lr.rid = kq.rid
            GROUP BY kq.vec_id
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(floor(mean_lrd / greatest(lrd_x, 1e-12) * 16777216 + 0.5)
                    AS BIGINT) AS lof_u
        FROM agg
    """,
    description="LOF kernel math pinned at hash level: injected "
    "tie-free dyadic 1-D reference set through the REAL fit "
    "(k-distance/lrd) and Arrow scoring kernel (matmul distances, "
    "argpartition kNN, reachability ratio); DuckDB rebuilds the same "
    "pipeline relationally; 2^24 fixed-point emission with a "
    "machine-checked guard band. Constant-cost 400-query slice.",
    tags=["ml", "lof", "oracle-surrogate"],
)
def q_ml_kernel_lof_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..ml.lof import LOFNoveltyModel

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.array((F.col("vec_id") % _LOF_QMOD) * 4 + F.lit(0.5))
        .cast("array<double>")
        .alias("pos"),
    )
    model = LOFNoveltyModel(n_neighbors=_LOF_K, max_train=len(_LOF_REFS))
    model._fit_reference(np.asarray([[float(p)] for p in _LOF_REFS]))
    lof = model.lof_col(base, "pos")
    return base.select(
        "vec_id",
        F.floor(lof * F.lit(16777216.0) + F.lit(0.5)).cast("long").alias("lof_u"),
    )


@register(
    "ml_kernel_pca_exact",
    # Hash-level oracle surrogate for the reconstruction-MSE kernel
    # (ml/reconstruction.py mse_col, the Arrow matmul kernel — the
    # PCA analog of the reference autoencoder's MSE,
    # model_wrapper.py:44-49): injected exactly-orthonormal dyadic
    # components (disjoint ±1/4 supports) and an integer mean run
    # through the REAL broadcast (X-mu) @ W kernel; the residual
    # energy (total - captured) is an exact multiple of 1/16, d = 64
    # is a power of two, so mse*1024 is an exact integer both engines
    # produce bit-for-bit — no guard band needed.
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS q
            FROM embeddings WHERE vec_id < 400
        ), cc AS (
            SELECT vec_id,
                   list_transform(list_zip(q, {_PCA_MU_SQL}),
                                  p -> CAST(p[1] - p[2] AS DOUBLE)) AS c
            FROM e
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(greatest(list_sum(list_transform(c, x -> x * x))
                             - ({_PCA_CAPTURED_SQL}), 0.0) * 16
                    AS BIGINT) AS sse_q16
        FROM cc
    """,
    description="Reconstruction-MSE kernel math pinned at hash level: "
    "injected orthonormal dyadic components through the REAL Arrow "
    "matmul kernel; residual energy exact in float64, emitted as the "
    "integer (total - captured) * 16. Pins M8-M10's arithmetic; the "
    "trained tiers (ml_reconstruction/autoencoder) stay rows-only. "
    "Constant-cost 400-vector slice.",
    tags=["ml", "reconstruction", "oracle-surrogate"],
)
def q_ml_kernel_pca_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..ml.reconstruction import ReconstructionScorer

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("double"),
    )
    base = emb.select(F.col("vec_id").cast("long").alias("vec_id"), quant.alias("q"))
    W = np.zeros((_PCA_D, _PCA_K), dtype=np.float64)
    for c in range(_PCA_K):
        for j in range(_PCA_SUP):
            i = _PCA_SUP * c + j
            W[i, c] = 0.25 * _PCA_SIGN[i]
    scorer = ReconstructionScorer(k=_PCA_K)
    scorer.components = W
    scorer.mean = np.asarray(_PCA_MU, dtype=np.float64)
    mse = scorer.mse_col(base, "q")
    # mse = (total - captured)/64 exactly (dyadic, d a power of two);
    # *1024 recovers the exact integer (total - captured) * 16
    return base.select(
        "vec_id", F.round(mse * F.lit(1024.0)).cast("long").alias("sse_q16")
    )
