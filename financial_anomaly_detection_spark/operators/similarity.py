"""Similarity search over embedding columns (SURVEY.md §2.10).

Tiers, and who should pick them (measured, SCALING.md "ANN tier
selection"):
  * ``brute_force_topk`` — exact cosine top-k: broadcast query set ×
    candidate scan; dot products via JVM higher-order functions
    (no UDF, stays in codegen). The oracle-checkable baseline, and
    the FASTEST tier below ~10^5-10^6 candidates.
  * ``ivf_topk`` — IVF coarse quantizer + nprobe cell equi-join with
    exact in-cell distances. Competitive on BOTH structure-free and
    clustered corpora; the default scale tier until r6.
  * ``ivf_pq_topk`` — IVFADC (IVF routing + residual-PQ asymmetric
    distances + exact re-rank). The default scale tier since r6:
    beats both parents at every drilled scale and shuffles m code
    bytes per candidate instead of d doubles.
  * ``simhash_vector_topk`` — banded signature equi-join, pure
    Catalyst. Wins on structure-free corpora at large ×; pays a
    d×64-projection cost that clustered corpora don't reward.
  * ``lsh_topk`` — BucketedRandomProjectionLSH. EXPLICIT OPT-IN, not
    a default: on structure-free vectors it loses to plain exact
    through ×30; on its home fixture (strongly clustered corpora) it
    beats exact and simhash but merely ties IVF.

On normalized vectors euclidean-NN order == cosine-NN order
(‖a−b‖² = 2 − 2·cos), which is why the LSH tier normalizes first.
"""

from __future__ import annotations

from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.vectorfn import cosine_similarity, dot, l2_norm


def _lloyd_kmeans(X, k: int, seed: int = 42, max_iter: int = 10):
    """Seeded k-means++ init + Lloyd's iterations, driver-side numpy.

    The IVF coarse quantizer (FAISS trains locally on a sample too).
    Deterministic for a fixed (X, k, seed); empty clusters re-seed to
    the point farthest from its assigned center.
    """
    import numpy as np

    n = len(X)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    # k-means++ init
    centers = [X[rng.integers(n)]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = d2 / max(d2.sum(), 1e-30)
        centers.append(X[rng.choice(n, p=probs)])
        d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
    C = np.stack(centers)
    for _ in range(max_iter):
        dists = ((X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T))
        assign = dists.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            mask = assign == j
            if mask.any():
                newC[j] = X[mask].mean(axis=0)
            else:
                newC[j] = X[dists.min(axis=1).argmax()]
        if np.allclose(newC, C):
            break
        C = newC
    return C


def _train_sample_matrix(
    df: DataFrame, id_col: str, vec_col: str, cap: int = 25_000
):
    """Deterministic k-means fit pool as a dense float64 matrix.

    ``orderBy(md5(id), id).limit(cap)`` plans as a distributed top-k
    (TakeOrderedAndProject), so the sample is key-determined —
    independent of file layout, partition count, and AQE — and the
    hash order keeps it distribution-representative when ids correlate
    with time or source (an id-prefix sample would bias centroids).
    The single bounded driver-side collect shared by every vector
    model-fit site in this module (ivf / semdedup / pq / ivfpq — the
    §2.9 limit()-bounded fit-pool discipline).
    """
    import numpy as np

    train = df.orderBy(F.md5(F.col(id_col).cast("string")), id_col).limit(cap)
    return np.stack(
        train.select(F.col(vec_col).cast("array<double>").alias("_v"))
        .toPandas()["_v"]
        .to_numpy()
    )


def _fit_subspaces(d: int, m: int) -> int:
    """Largest subspace count <= ``m`` that divides ``d``.

    PQ requires d %% m == 0 (FAISS asserts); ``ivf_pq_topk`` must not
    hard-fail on, say, 20-dim embeddings with the default m=8, so the
    tier degrades deterministically to
    the nearest valid m (20 -> 5; worst case 1 = a single full-width
    codebook, i.e. plain vector quantization) instead of crashing."""
    return max(j for j in range(1, m + 1) if d % j == 0)


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector."""
    from ..functions.vectorfn import dot, l2_norm

    # Precompute each side's norm before the pair join — same sqrt on
    # the same dot product (bit-identical to per-pair norms), but O(n)
    # reductions instead of 2 per pair.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q"),
        l2_norm(vec_col).alias("_nq"),
    )
    from .partitioning import spread_narrow

    # The broadcast pair join's map side runs on the candidate scan's
    # partitioning — spread a single-file scan across cores first.
    cand = spread_narrow(candidates).select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_nc")
    )
    denom = F.col("_nq") * F.col("_nc")
    pairs = cand.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.when(denom > 0, dot("_q", vec_col) / denom).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def auto_nlist(n: int) -> int:
    """FAISS-style cell-count rule: nlist ~ sqrt(n), floored at 16.

    A FIXED nlist means every query scans an nprobe/nlist FRACTION of
    the corpus — per-query cost linear in n, and with the query set
    also growing the drill measured slope ~1.8 (58.7 s at x10).
    nlist ~ sqrt(n) makes per-query cost ~ nprobe * sqrt(n); the floor
    keeps the original small-corpus behavior (and its recall floors).
    """
    return max(16, int(round((max(n, 1) / 2.0) ** 0.5)))


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nlist: int | None = None,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k (§2.10 scale path #2): a coarse
    quantizer assigns every candidate to one of ``nlist`` centroid
    cells; each query searches only its ``nprobe`` nearest cells. Cost
    per query drops from O(N) to ~O(N·nprobe/nlist).

    The quantizer trains DRIVER-SIDE on a bounded key-determined
    sample — the FAISS IVF discipline (faiss trains its quantizer
    locally on a sample too; centroid quality saturates long before
    the corpus, and at 100 TB a full-corpus distributed KMeans would
    dominate the build): seeded k-means++ init + Lloyd's iterations in
    numpy over ≤25k vectors. Cell ASSIGNMENT covers every candidate
    row and is pure Catalyst: a broadcast centroid join + min-struct
    argmin (deterministic tie-break on cell id). No UDFs anywhere;
    dot products via JVM higher-order functions.
    """
    import numpy as np

    from .partitioning import spread_narrow

    cand = spread_narrow(candidates).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e")
    )
    if nlist is None:
        nlist = auto_nlist(cand.count())
    X = _train_sample_matrix(cand, "neighbor_id", "_e")
    centers = _lloyd_kmeans(X, nlist, seed=seed, max_iter=10)

    # centroid table is tiny: nlist x d -> broadcast for assignment and
    # probe-cell ranking alike
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(centers)]
    cent_df = queries.sparkSession.createDataFrame(
        centroids, f"_cell int, _centroid array<double>"
    )

    # Assignment: broadcast-expand each candidate against the nlist
    # centroids, keep the nearest via a min-struct (partial-agg
    # combines map-side, so the shuffle stays at one row per
    # candidate; the (_d2, _cell) struct makes ties deterministic).
    cand_d2 = (
        cand.join(F.broadcast(cent_df))
        .withColumn(
            "_d2",
            F.aggregate(
                F.zip_with(
                    F.col("_e").cast("array<double>"),
                    "_centroid",
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    cand_cells = (
        cand_d2.groupBy("neighbor_id")
        .agg(
            F.min(F.struct("_d2", "_cell"))["_cell"].alias("_cell"),
            F.first("_e").alias("_e"),
        )
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q"))
    # rank cells per query by centroid distance, keep nprobe
    q_cells = (
        q.join(F.broadcast(cent_df))
        .withColumn(
            "_d2",
            F.aggregate(
                F.zip_with(
                    F.col("_q").cast("array<double>"),
                    "_centroid",
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn(
            "_cell_rank",
            F.row_number().over(Window.partitionBy("query_id").orderBy("_d2", "_cell")),
        )
        .filter(F.col("_cell_rank") <= nprobe)
        .select("query_id", "_q", "_cell")
    )
    pairs = q_cells.join(cand_cells, "_cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_similarity("_q", "_e").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _auto_bucket_length(n: int, d: int, target_occupancy: int = 1024) -> float:
    """Corpus-adaptive BRP bucket length.

    Projections of unit vectors onto a random unit direction have
    std ~ 1/sqrt(d), so the usable projection spread is ~6/sqrt(d).
    A FIXED bucket length therefore yields a FIXED number of buckets
    per hash table — bucket occupancy (and the bucket-join's cost per
    query) grows linearly with the corpus, and the "LSH tier" quietly
    degenerates toward the quadratic exact tier (measured in the x10
    scale drill: 30 s LSH vs 5 s exact on 20k vectors). Scaling the
    bucket count with n keeps occupancy — and per-query join cost —
    constant:

        w = clamp(spread * target_occupancy / n,  0.02,  0.5)

    The 0.5 cap preserves the original small-corpus behavior (and the
    uniform-data recall floor the tests assert); the shrink engages
    only once n > ~target_occupancy * sqrt(d). Narrow buckets remain
    DISTANCE-SELECTIVE: duplicate / near-duplicate neighbors (the
    realistic ANN target, d ~ 0) co-bucket at any w, while
    uniform-noise pairs (d ~ sqrt(2)) are pruned — on data with no
    neighbor structure no LSH setting can prune without recall loss.
    """
    spread = 6.0 / (d ** 0.5)
    return min(0.5, max(0.02, spread * float(target_occupancy) / float(max(n, 1))))


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bucket_length: float | str = "auto",
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via BRP-LSH over L2-normalized vectors.

    ``bucket_length="auto"`` (default) sizes buckets from the corpus
    count so bucket occupancy stays constant as the corpus grows (see
    :func:`_auto_bucket_length`); pass a float to pin it.

    Returns (query_id, neighbor_id, cosine, rn) like brute_force_topk;
    recall < 1 by construction — tests compare against the exact tier.
    """
    from .partitioning import spread_narrow

    if bucket_length == "auto":
        # two bounded driver-side lookups: a count-star (parquet
        # metadata fast-path) and one row for the dimension. An empty
        # corpus (first() is None) or a NULL probe vector can't size
        # the bucket — fall back to the legacy fixed length so the
        # empty result flows through like the fixed-bucket path.
        n = candidates.count()
        probe = candidates.select(F.size(vec_col).alias("_d")).first()
        d = probe["_d"] if probe is not None else None
        bucket_length = (
            _auto_bucket_length(n, int(d)) if d is not None and d > 0 else 0.5
        )

    def prep(df: DataFrame, out_id: str) -> DataFrame:
        df = spread_narrow(df)
        vec = array_to_vector(F.col(vec_col).cast("array<double>"))
        with_vec = df.select(F.col(id_col).alias(out_id), vec.alias("_raw"))
        return Normalizer(inputCol="_raw", outputCol="_v", p=2.0).transform(with_vec)

    cand = prep(candidates, "neighbor_id")
    qs = prep(queries, "query_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="_v",
        outputCol="_h",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(cand)
    # euclidean distance on unit vectors: d² = 2 − 2 cos  ⇒  cos = 1 − d²/2
    joined = model.approxSimilarityJoin(qs, cand, 2.0, distCol="_d")
    pairs = joined.filter(F.col("datasetA.query_id") != F.col("datasetB.neighbor_id")).select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        (F.lit(1.0) - F.col("_d") * F.col("_d") / F.lit(2.0)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def auto_band_bits(n: int) -> int:
    """Adaptive band width for the SimHash candidate join.

    With FIXED band bits, the expected candidates per query are
    ``bands * n / 2^band_bits`` — linear in the corpus, the same
    fixed-granularity trap the scale drill exposed in the BRP bucket
    length and the IVF cell count. ``band_bits ~ log2(n)`` keeps the
    expected candidate set constant; clamped to [4, 16] so 64-bit
    signatures always yield >= 4 bands and tiny corpora stay
    permissive. Near-identical vectors (angle -> 0) match a band with
    probability ~(1 - theta/pi)^band_bits ~ 1 at ANY width, so
    duplicate/near-dup recall survives the adaptivity.
    """
    import math

    return max(4, min(16, int(math.ceil(math.log2(max(n, 2)))) - 5))


def simhash_vector_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    seed: int = 42,
) -> DataFrame:
    """64-bit random-hyperplane SimHash per vector (Charikar 2002),
    entirely JVM-side — the vector twin of the text tier in
    operators/dedup.py. The seeded projection matrix is a broadcast
    (dim, weights[64]) table; the per-bit projections are 64 grouped
    SUM aggregates over the exploded (id, dim, value) rows (map-side
    combine — the id-keyed shuffle moves 64 doubles per vector), and
    the sign bits fold into one BIGINT with plain column math.
    Returns (id, simhash).

    Each per-dimension product is quantized to integer micro-units
    BEFORE the sum (the repo's quantize-then-sum discipline): int64
    addition is associative, so the sign bits — and therefore the
    candidate set — are layout-independent, where a double SUM could
    flip a near-zero projection's bit across partitionings. Headroom:
    |round(v * w * 1e6)| for unit-scale embeddings and N(0,1) planes
    is ~1e7 per term; even 1e6-dim vectors stay ~1e13 << 2^63.
    """
    import numpy as np

    from .partitioning import spread_narrow

    spark = df.sparkSession
    d = df.select(F.size(vec_col).alias("_d")).first()["_d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((int(d), n_bits))
    pw = spark.createDataFrame(
        [(i, [float(w) for w in planes[i]]) for i in range(int(d))],
        "pos int, ws array<double>",
    )
    ex = spread_narrow(df).select(
        F.col(id_col), F.posexplode(F.col(vec_col).cast("array<double>"))
    )
    def _round_half_up(x: "F.Column") -> "F.Column":
        # Bit-identical to round(x) cast long, without the per-value
        # BigDecimal Spark's double ROUND allocates: Spark rounds the
        # SHORTEST-decimal string HALF_UP (away from zero), and that
        # decision matches binary floor(|x|+0.5) exactly — a decimal
        # .5 tie occurs iff the double IS an exact half-integer
        # (shortest-repr preserves double ordering and k+0.5 is itself
        # representable for |k| < 2^52; projections here are ~1e7).
        return F.when(x >= 0, F.floor(x + F.lit(0.5))).otherwise(
            -F.floor(F.lit(0.5) - x)
        )

    votes = ex.join(F.broadcast(pw), "pos").groupBy(id_col).agg(
        *[
            F.sum(
                _round_half_up(F.col("col") * F.col("ws")[b] * F.lit(1000000.0))
            ).alias(f"_v{b}")
            for b in range(n_bits)
        ]
    )
    sig: "F.Column" = F.lit(0).cast("long")
    for b in range(n_bits):
        bit = F.shiftleft(F.lit(1).cast("long"), b)
        sig = sig.bitwiseOR(
            F.when(F.col(f"_v{b}") > 0, bit).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_vector_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    band_bits: int | None = None,
    n_bits: int = 64,
    seed: int = 42,
    queries_subset: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via banded vector SimHash — the
    engine's own pure-Catalyst ANN tier, built after the x30 scale
    drill showed MLlib BRP-LSH (hash explode + pair distinct +
    row-at-a-time keyDistance UDF) cannot beat the JVM-codegen exact
    tier's constant factor on structure-free vectors. Here every
    stage stays in built-in expressions: signature = 64 grouped sums,
    candidates = an EQUI-join on (band index, band value), re-rank =
    exact cosine over the candidate pairs only.

    ``band_bits=None`` adapts the band width to the corpus size so the
    expected candidate set per query stays constant (auto_band_bits).
    ``queries_subset=True`` declares that every query id also appears
    in ``candidates`` with the same vector: the candidate signatures
    are then computed ONCE (pinned via localCheckpoint, released by
    the bench between entries) and the query side is a broadcast join
    of the query ids against that pin — the former shape re-ran the
    whole explode + plane-join + 64-sum chain on the query rows, whose
    cost is dominated by its fixed stages, not its row count.
    Returns (query_id, neighbor_id, cosine, rn) like brute_force_topk;
    recall is approximate by construction and concentrated on
    near-duplicate neighbors — the realistic ANN target.
    """
    from .partitioning import spread_narrow

    if band_bits is None:
        band_bits = auto_band_bits(candidates.count())
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        bands = F.array(
            *[
                F.struct(
                    F.lit(i).alias("_band"),
                    F.shiftright("simhash", i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("_val"),
                )
                for i in range(n_bands)
            ]
        )
        return sigs.select(
            F.col(id_col).alias(out_id), F.explode(bands).alias("_b")
        ).select(out_id, F.col("_b._band").alias("_band"), F.col("_b._val").alias("_val"))

    if queries_subset:
        sigs = simhash_vector_signatures(
            candidates, id_col, vec_col, n_bits, seed
        ).localCheckpoint(eager=True)  # two consumers below
        qsigs = sigs.join(F.broadcast(queries.select(F.col(id_col))), id_col)
    else:
        sigs = simhash_vector_signatures(
            spread_narrow(candidates), id_col, vec_col, n_bits, seed
        )
        qsigs = simhash_vector_signatures(queries, id_col, vec_col, n_bits, seed)
    cband = banded(sigs, "neighbor_id")
    qband = banded(qsigs, "query_id")
    pairs = (
        # no broadcast hint: forcing the probe side broadcast measured
        # SLOWER than the AQE-planned join here (6.1 vs 4.8 s isolated)
        qband.join(cband, ["_band", "_val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    cv = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = (
        # the query set is the structurally-small ANN probe side (the
        # exact tier broadcasts it for the same reason)
        pairs.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", cosine_similarity(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.97,
    nlist: int | None = None,
    seed: int = 42,
    pair_cap: int | None = 256,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by coarse clustering + within-cluster cosine.

    The paper's point is the SHAPE: the quadratic cosine check is
    confined to cluster-sized blocks, so web-scale corpora dedup in
    O(sum cluster_size^2) instead of O(N^2). This implementation
    reuses the IVF coarse quantizer discipline (ivf_topk above):
    Lloyd's k-means on a bounded hash-determined sample driver-side
    (sampled by md5 of the id, NOT the id prefix — time/source-ordered
    ids would otherwise bias the centroids and skew the cells),
    broadcast-argmin cell assignment JVM-side, then cell-local pair
    generation keeps only pairs with cosine >= ``threshold``.

    ``pair_cap`` bounds the per-cell pair work — the 100 TB knob: a
    skewed cell of size s would otherwise cost s² cosines. Rows in a
    cell are ordered by md5(id) (deterministic, distribution-free) and
    each row is compared only against its ``pair_cap`` predecessors in
    that order, realized as an EQUI-join on (cell, rn-block) so the
    join fan-out itself — not just the post-filter survivor set — is
    O(cell_size * pair_cap). Exact duplicates can NEVER escape the
    cap: bit-identical vectors share a vector hash, and a second
    equi-join on (cell, vector_hash) compares all exact twins
    regardless of distance in the md5 order. Near-duplicates more
    than ``pair_cap`` apart inside a hot cell are the documented
    approximation (the paper's own quality/cost dial; boundary-
    straddling near-dups were already approximate). ``pair_cap=None``
    restores the uncapped full cell self-join.

    Adaptive dispatch: when the LARGEST cell holds <= ``pair_cap``
    rows, every pair is within cap distance in any ordering, so the
    capped and uncapped paths return identical rows — including at
    ``threshold=1.0``, where BOTH paths drop exact twins through the
    same vector-hash keep-first rule rather than relying on the float
    cosine of identical vectors landing exactly on 1.0 (it can land at
    0.999..9). The cap's banding machinery (explode probe, block join)
    is pure overhead there. One bounded 1-row count over the checkpointed
    assignment decides; the cap engages exactly when a cell could
    exceed it (the hot-cell case it exists for).

    Keep rule (deterministic): a row is DROPPED iff some smaller-id
    row among its compared set matches it at >= threshold — the
    keep-first analog of the paper's keep-one-per-group; the smallest
    id of any duplicate group always survives.
    Exact duplicate vectors always share a cell (identical distances,
    deterministic argmin tie-break), so true duplicates cannot escape
    across cluster boundaries.

    Returns the KEPT rows: (id_col, cell).
    """
    import numpy as np

    from .partitioning import spread_narrow

    cand = spread_narrow(df).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_e"))
    if nlist is None:
        # Count the raw input, not the repartitioned projection: the
        # value is identical and a bare parquet scan counts from file
        # metadata without paying the spread exchange.
        nlist = auto_nlist(df.count())
    X = _train_sample_matrix(cand, "_id", "_e")
    centers = _lloyd_kmeans(X, nlist, seed=seed, max_iter=10)
    # Cell assignment as ONE projection over a literal centroid array —
    # the former broadcast-join form materialized nlist rows per vector
    # and re-collapsed them through a groupBy argmin: an N x nlist row
    # expansion plus a full-corpus shuffle, both pure overhead at every
    # scale. d2 per centroid is the same left-to-right double
    # accumulation; the running min keeps the FIRST strict minimum, so
    # ties resolve to the smallest cell exactly like min(struct(d2,
    # cell)), and a null/NaN d2 (null vector element, ragged length)
    # fails the strict < for every centroid and lands on cell 0 — the
    # same cell the old min(struct) picked (nulls order first).
    cent_arr = F.array(*[
        F.struct(
            F.lit(int(i)).alias("_cell"),
            F.array(*[F.lit(float(x)) for x in c]).alias("_cv"),
        )
        for i, c in enumerate(centers)
    ])
    e_dbl = F.col("_e").cast("array<double>")
    d2s = F.transform(
        cent_arr,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(e_dbl, c["_cv"], lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_d2"),
            c["_cell"].alias("_cell"),
        ),
    )
    best = F.aggregate(
        d2s,
        F.struct(
            F.lit(float("inf")).alias("_d2"), F.lit(0).alias("_cell")
        ),
        lambda acc, s: F.when(s["_d2"] < acc["_d2"], s).otherwise(acc),
    )
    # The per-row norm is computed ONCE here (O(N) aggregates) so the
    # pair stages below compare dot/(an*bn) — the former per-pair
    # cosine_similarity() re-derived both norms inside the join
    # condition (filters over a join collapse into it), costing five
    # interpreted array aggregates per SCANNED pair instead of one.
    # sqrt of the same dot product, so every float is bit-identical.
    assigned = (
        cand.select(
            "_id", "_e", best["_cell"].alias("_cell"),
            l2_norm("_e").alias("_nrm"),
        )
        .localCheckpoint(eager=True)  # consumed by both pair sides + keep
    )
    def _abcols(j):
        return j.select(
            F.col("a._id").alias("aid"), F.col("a._e").alias("ae"),
            F.col("a._nrm").alias("an"),
            F.col("b._id").alias("bid"), F.col("b._e").alias("be"),
            F.col("b._nrm").alias("bn"),
        )

    def _pair_cosine():
        denom = F.col("an") * F.col("bn")
        return F.when(denom > 0, dot("ae", "be") / denom)

    if pair_cap is not None:
        # adaptive dispatch (see docstring): identical results, cheaper
        # plan when no cell can exceed the cap. Bounded driver value:
        # one MAX over the per-cell counts of the checkpointed frame.
        max_cell = (
            assigned.groupBy("_cell").count().agg(F.max("count")).first()[0]
        )
        if max_cell is not None and max_cell <= pair_cap:
            pair_cap = None
    if pair_cap is None:
        pairs = _abcols(
            assigned.alias("a").join(
                assigned.alias("b"),
                (F.col("a._cell") == F.col("b._cell"))
                & (F.col("a._id") < F.col("b._id")),
            )
        )
    else:
        w_cell = Window.partitionBy("_cell").orderBy(
            F.md5(F.col("_id").cast("string")), "_id"
        )
        ranked = (
            assigned.withColumn("_rn", F.row_number().over(w_cell))
            .withColumn("_blk", F.floor((F.col("_rn") - 1) / F.lit(pair_cap)))
            .withColumn("_vh", F.md5(F.col("_e").cast("array<double>").cast("string")))
            .localCheckpoint(eager=True)
        )
        # band pairs: b joins its own and the previous rn-block (every
        # predecessor within pair_cap lives there), so the JOIN fan-out
        # is O(cell * cap) — the cap bounds work, not just survivors
        probe = ranked.select(
            "_id", "_cell", "_e", "_nrm", "_rn",
            F.explode(F.array(F.col("_blk"), F.col("_blk") - 1)).alias("_tblk"),
        )
        band = _abcols(
            ranked.alias("a").join(
                probe.alias("b"),
                (F.col("a._cell") == F.col("b._cell"))
                & (F.col("a._blk") == F.col("b._tblk"))
                & (F.col("b._rn") - F.col("a._rn") >= 1)
                & (F.col("b._rn") - F.col("a._rn") <= pair_cap),
            )
        )
        # exact-twin drops: bit-identical vectors share _vh, and an
        # identical nonzero pair has cosine 1 >= any threshold, so the
        # keep-first rule inside a (cell, _vh) group needs NO pair join
        # at all — a groupBy min-id keeps the twin branch LINEAR even
        # for million-row duplicate groups (a pair form would be
        # quadratic in group size, the dedup worst case at 100 TB).
        # Zero vectors are excluded (cosine is undefined/null there,
        # and the uncapped path would not drop them either).
        keep_min = ranked.groupBy("_cell", "_vh").agg(F.min("_id").alias("_keep"))
        # sum-of-squares > 0 iff its sqrt > 0: reuse the precomputed
        # norm instead of a second per-row array aggregate.
        nonzero = F.col("_nrm") > 0
        twin_drops = (
            ranked.join(keep_min, ["_cell", "_vh"])
            # threshold > 1 never matches anything, identical pairs
            # included — keep the twin branch consistent with that
            .filter((F.col("_id") > F.col("_keep")) & nonzero & F.lit(threshold <= 1.0))
            .select("_id")
        )
        band_drops = (
            band.filter(_pair_cosine() >= threshold)
            # band pairs are rn-ordered, not id-ordered — a matching
            # pair always drops its LARGER id
            .select(F.greatest("aid", "bid").alias("_id"))
        )
        drops = band_drops.unionByName(twin_drops).distinct()
        return assigned.join(drops, "_id", "left_anti").select(
            F.col("_id").alias(id_col), F.col("_cell").alias("cell")
        )
    # uncapped: dropped iff some smaller-id row in the cell matches.
    # Exact twins must drop identically in BOTH paths: the float
    # cosine of bit-identical vectors can land at 0.999..9 < 1.0, so
    # at threshold=1.0 the pair filter alone would keep twins here
    # while the capped path's hash rule drops them — the adaptive
    # dispatch (cap engaged or not) would then be visible in the
    # output. The same (cell, vector-hash) keep-first rule closes it.
    # The hash branch only matters within float-ulp of 1.0 (identical
    # nonzero vectors score >= 1 - ~1e-15); below that the cosine pair
    # filter provably drops twins itself, so the extra groupBy/join/
    # union stages are gated off the common path.
    drops = (
        pairs.filter(_pair_cosine() >= threshold)
        .select(F.greatest("aid", "bid").alias("_id"))
    )
    if threshold >= 1.0 - 1e-9:
        vh = assigned.withColumn(
            "_vh", F.md5(F.col("_e").cast("array<double>").cast("string"))
        )
        keep_min = vh.groupBy("_cell", "_vh").agg(F.min("_id").alias("_keep"))
        nonzero = F.col("_nrm") > 0
        twin_drops = (
            vh.join(keep_min, ["_cell", "_vh"])
            .filter(
                (F.col("_id") > F.col("_keep")) & nonzero & F.lit(threshold <= 1.0)
            )
            .select("_id")
        )
        drops = drops.unionByName(twin_drops)
    drops = drops.distinct()
    return assigned.join(drops, "_id", "left_anti").select(
        F.col("_id").alias(id_col), F.col("_cell").alias("cell")
    )


def pq_train_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
):
    """Product-quantization codebooks (Jegou, Douze & Schmid 2011,
    "Product quantization for nearest neighbor search"): split the
    d-dim space into ``m`` subspaces and k-means each on a bounded
    hash-determined sample (the IVF quantizer discipline — FAISS
    trains PQ codebooks on a sample too; sampling by md5 of the id
    keeps the sample distribution-representative when ids correlate
    with time or source order). Returns a numpy array (m, k, d/m).
    """
    import numpy as np

    X = _train_sample_matrix(df, id_col, vec_col)
    d = X.shape[1]
    m = _fit_subspaces(d, m)
    dsub = d // m
    books = []
    for j in range(m):
        sub = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        books.append(_lloyd_kmeans(sub, k, seed=seed + j, max_iter=10))
    return np.stack(books)  # (m, k, dsub)


def _pq_literal(books) -> "F.Column":
    """Codebooks as a nested array literal: m x k x dsub doubles —
    ~1k doubles at the defaults, a constant in the plan."""
    return F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(v)) for v in center])
                    for center in book
                ]
            )
            for book in books
        ]
    )


def pq_encode(
    df: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    impl: str = "arrow",
) -> DataFrame:
    """Encode every vector as ``m`` sub-codes (argmin centroid per
    subspace; ties resolve to the LOWEST code — numpy argmin and
    array_position both take the first minimum): d doubles become m
    small ints, an 8-32x compression of the similarity state at 100 TB.

    ``impl="arrow"`` (default) is a vectorized numpy kernel over
    ``mapInPandas`` batches — the encode touches every candidate row
    and m*k*dsub interpreted higher-order-function evals per row were
    the measured bottleneck of the PQ tiers (Spark does not codegen
    lambda functions); the batched argmin is the same kind of Arrow
    model kernel as the iforest/LOF scorers. ``impl="catalyst"`` keeps
    the pure-expression form — zero Python in the plan, useful where a
    stage must stay whole-JVM. Both compute squared L2 per (row,
    subspace, center) and take the FIRST minimum; summation order over
    dsub differs (fold vs numpy pairwise), so agreement is pinned by a
    pytest on the fixed test corpus rather than claimed bit-for-bit.

    Returns (id_col, *keep_cols, codes array<int>), codes 0-based.
    """
    if impl == "arrow":
        import numpy as np

        m, k, dsub = books.shape
        B = books.astype("float64")  # (m, k, dsub)
        in_cols = [id_col, *keep_cols]
        field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        schema = (
            "".join(f"{c} {field[c]}, " for c in in_cols) + "codes array<int>"
        )
        src = df.select(*in_cols, F.col(vec_col).cast("array<double>").alias("_v"))

        def encode(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["_v"].to_numpy())  # (b, d)
                codes = np.empty((len(pdf), m), dtype="int32")
                for j in range(m):
                    sub = X[:, j * dsub : (j + 1) * dsub]  # (b, dsub)
                    d2 = ((sub[:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                    codes[:, j] = d2.argmin(axis=1)
                out = pdf[in_cols].copy()
                out["codes"] = list(codes)
                yield out

        return src.mapInPandas(encode, schema=schema)
    if impl != "catalyst":
        raise ValueError(f"unknown pq_encode impl {impl!r}")
    m, k, dsub = books.shape
    cb = _pq_literal(books)
    vec = F.col(vec_col).cast("array<double>")

    def subdist(j, c):
        # ||v[jth subspace] - books[j][c]||^2, computed once per (j, c)
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(dsub)),
            F.lit(0.0),
            lambda s, t: s
            + F.pow(
                F.element_at(vec, ((j - 1) * dsub + t).cast("int"))
                - F.element_at(
                    F.element_at(F.element_at(cb, j.cast("int")), c.cast("int")),
                    t.cast("int"),
                ),
                F.lit(2.0),
            ),
        )

    # The k-element subdistance array is computed ONCE per subspace:
    # wrapping it as the single element of an array and binding it via
    # transform's lambda variable forces one materialization that both
    # array_position and array_min read — Catalyst does not CSE across
    # independent higher-order lambdas, so two inline copies would
    # double the encoding cost.
    codes = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda j: F.element_at(
            F.transform(
                F.array(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(k)), lambda c: subdist(j, c)
                    )
                ),
                lambda dists: (
                    F.array_position(dists, F.array_min(dists)) - 1
                ).cast("int"),
            ),
            1,
        ),
    )
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], codes.alias("codes")
    )


def _adc_table(vec_expr, books):
    """m x k table of squared L2 distances between each subspace of
    ``vec_expr`` (an array<double> column) and the codebook centers —
    O(k*d) built once per row, then every candidate pair costs O(m)
    lookups. ``vec_expr`` should be a plain attribute (or cheap cast
    of one): it is referenced m*k*dsub times inside the lambdas and
    Catalyst does not CSE across higher-order functions."""
    m, k, dsub = books.shape
    cb = _pq_literal(books)
    return F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda j: F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda c: F.aggregate(
                F.sequence(F.lit(1), F.lit(dsub)),
                F.lit(0.0),
                lambda s, t: s
                + F.pow(
                    F.element_at(vec_expr, ((j - 1) * dsub + t).cast("int"))
                    - F.element_at(
                        F.element_at(F.element_at(cb, j.cast("int")), c.cast("int")),
                        t.cast("int"),
                    ),
                    F.lit(2.0),
                ),
            ),
        ),
    )


def _adc_sum(codes_col, dtab_col, m: int):
    """Asymmetric distance: sum over subspaces of the precomputed
    table entry for the candidate's code — O(m) per pair."""
    return F.aggregate(
        F.zip_with(
            codes_col,
            F.sequence(F.lit(1), F.lit(m)),
            lambda code, j: F.element_at(
                F.element_at(dtab_col, j.cast("int")), (code + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def pq_adc_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    topk: int = 10,
    rerank: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (Jegou 2011) with an
    exact re-rank tail — the FAISS IVFADC serving shape minus the IVF
    cell routing (compose with ivf_topk for both):

      * each QUERY row precomputes its m x k distance table against
        the codebook literal (O(k d) once per query);
      * each (query, candidate) pair then costs O(m) table lookups —
        the PQ point: distance over 8 ints, not 64 doubles;
      * the ADC top-``rerank`` shortlist is re-ranked with the exact
        cosine, and the final ``topk`` is returned with the same
        (cosine desc, id) total order as the exact tier.

    Returns (query_id, neighbor_id, cosine, rn). Approximate —
    recall vs brute_force_topk is pytest-pinned.
    """
    from .partitioning import spread_narrow

    books = pq_train_codebooks(candidates, id_col, vec_col, m=m, k=k, seed=seed)
    # the trainer degrades m to the nearest divisor of d (and k to the
    # sample size) — use the fitted shape, not the requested one
    m = books.shape[0]
    codes = pq_encode(spread_narrow(candidates), books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_q"),
        _adc_table(F.col(vec_col).cast("array<double>"), books).alias("_dtab"),
    )
    pairs = codes.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    adc = _adc_sum(F.col("codes"), F.col("_dtab"), m)
    w = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("neighbor_id"))
    shortlist = (
        pairs.withColumn("_adc", adc)
        .withColumn("_arn", F.row_number().over(w))
        .filter(F.col("_arn") <= rerank)
        .select("query_id", "neighbor_id", "_q")
    )
    exact = shortlist.join(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e")),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        cosine_similarity("_q", "_e").alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return exact.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= topk)


def ivf_pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nlist: int | None = None,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    rerank: int = 100,
    seed: int = 42,
) -> DataFrame:
    """IVFADC (Jegou, Douze & Schmid 2011 SV; the FAISS ``IVFx,PQy``
    default serving index): IVF cell routing composed with PQ
    asymmetric-distance scoring over RESIDUALS — the two halves this
    module already ships separately (ivf_topk bounds the candidate
    set, pq_adc_topk bounds per-pair cost), combined because at 100 TB
    you need both at once:

      * the coarse quantizer confines each query to ``nprobe`` of
        ``nlist`` cells (candidate set ~ nprobe/nlist of the corpus);
      * candidates are PQ-encoded on their RESIDUAL x - centroid(cell)
        (residual energy is much smaller than vector energy, so the
        same codebook budget quantizes finer — the paper's IVFADC
        refinement over encoding raw vectors);
      * each (query, probed cell) pair precomputes ONE m x pq_k table
        against the query's own residual q - centroid(cell); each
        candidate pair then costs O(m) code lookups — the shuffled
        state per candidate is m small ints, not d doubles (the
        memory crossover vs IVF-flat);
      * the ADC top-``rerank`` shortlist is re-ranked with the exact
        cosine, same (cosine desc, id) total order as the exact tier.

    Execution shape (measured — this is where the composed tier earns
    its keep over gluing the parents together): both the candidate
    side (assign + residual + encode) and the query side (probe-cell
    ranking + per-cell distance tables) are ONE linear Arrow kernel
    each — vectorized numpy with the centroids and codebooks in the
    task closure, the same model-kernel discipline as the
    iforest/LOF scorers. The interpreted higher-order-function argmin
    over nlist cells and the m*pq_k*dsub codebook literal tree (fine
    for pq_adc_topk's single table) measured 10.9 s and 5.5 s
    respectively at the x10 drill — the Arrow kernels collapse both
    to sub-second. Everything after is a plain (cell) equi-join, a
    bounded per-query window, and the exact re-rank equi-join.

    Both k-means fits follow the bounded md5-sampled driver-side
    discipline of ivf_topk/pq_train_codebooks; PQ codebooks train on
    the SAMPLE's residuals (assigned in numpy), so no cluster-wide
    residual materialization exists outside the encode kernel.
    Returns (query_id, neighbor_id, cosine, rn). Approximate — recall
    vs brute_force_topk is pytest-pinned.
    """
    pairs = ivf_pq_adc_pairs(
        candidates,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        nlist=nlist,
        nprobe=nprobe,
        m=m,
        pq_k=pq_k,
        seed=seed,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("neighbor_id"))
    shortlist = (
        pairs.withColumn("_arn", F.row_number().over(w))
        .filter(F.col("_arn") <= rerank)
        .select("query_id", "neighbor_id", "_q")
    )
    exact = shortlist.join(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e")),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        cosine_similarity("_q", "_e").alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return exact.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= k)


def ivf_pq_adc_pairs(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = None,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    seed: int = 42,
    centroids=None,
    codebooks=None,
) -> DataFrame:
    """The ADC stage of IVFADC: every (query, candidate-in-probed-cell)
    pair with its asymmetric distance, BEFORE the shortlist window and
    exact re-rank. Returns (query_id, neighbor_id, _q, _adc).

    ``centroids`` (nlist, d) and ``codebooks`` (m, pq_k, dsub) inject
    fixed quantizers instead of the sampled k-means fits — the
    hash-exact oracle path (queries.py: ivfpq_exact_quantized) feeds
    integer-valued anchors chosen by md5 order so the encode/probe
    Arrow kernels and the O(m) ``_adc_sum`` lookup are pinned against
    a relational DuckDB reconstruction of the same math: with integer
    coordinates every residual, table entry, and ADC sum is an exact
    float64 integer, bit-identical across engines. Both must be given
    together; d = m * dsub must match the vectors.
    """
    import numpy as np

    from .partitioning import spread_narrow

    cand = spread_narrow(candidates).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e")
    )
    if centroids is not None or codebooks is not None:
        if centroids is None or codebooks is None:
            raise ValueError("centroids and codebooks must be injected together")
        C = np.asarray(centroids, dtype="float64")
        B = np.asarray(codebooks, dtype="float64")
        nlist = C.shape[0]
        m, pq_k = B.shape[0], B.shape[1]
        dsub = B.shape[2]
        if C.shape[1] != m * dsub:
            raise ValueError("codebook subspaces do not tile the centroid dim")
    else:
        if nlist is None:
            nlist = auto_nlist(cand.count())
        X = _train_sample_matrix(cand, "neighbor_id", "_e")
        C = _lloyd_kmeans(X, nlist, seed=seed, max_iter=10)  # (nlist, d)
        d = X.shape[1]
        # the auto route must not crash on dims the default m doesn't
        # divide — degrade to the nearest valid subspace count
        m = _fit_subspaces(d, m)
        dsub = d // m
        # sample residuals in numpy -> per-subspace codebooks (no
        # Spark-side residual pass needed for training)
        sd2 = ((X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :])
        R = X - C[sd2.argmin(axis=1)]
        B = np.stack(
            [
                _lloyd_kmeans(
                    np.ascontiguousarray(R[:, j * dsub : (j + 1) * dsub]),
                    pq_k,
                    seed=seed + j,
                    max_iter=10,
                )
                for j in range(m)
            ]
        )  # (m, k_eff, dsub)
        # _lloyd_kmeans clamps k to the sample size; the probe kernel's
        # fixed-width distance tables must use the FITTED center count
        # or a tiny corpus (sample < pq_k) breaks the tab[j] assignment
        pq_k = B.shape[1]

    id_type = {f.name: f.dataType.simpleString() for f in cand.schema.fields}[
        "neighbor_id"
    ]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["_e"].to_numpy()).astype("float64")  # (b, d)
            d2 = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
            cell = d2.argmin(axis=1)
            res = V - C[cell]
            codes = np.empty((len(pdf), m), dtype="int32")
            for j in range(m):
                sub = res[:, j * dsub : (j + 1) * dsub]
                sd = ((sub[:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = sd.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"],
                    "_cell": cell.astype("int32"),
                    "codes": list(codes),
                }
            )

    codes = cand.mapInPandas(
        encode, schema=f"neighbor_id {id_type}, _cell int, codes array<int>"
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q"))
    q_id_type = {f.name: f.dataType.simpleString() for f in q.schema.fields}[
        "query_id"
    ]

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["_q"].to_numpy()).astype("float64")  # (b, d)
            d2 = (Q * Q).sum(1)[:, None] - 2.0 * (Q @ C.T) + (C * C).sum(1)[None, :]
            # nprobe nearest cells, ties by cell id (argsort is stable)
            order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
            out_id, out_q, out_cell, out_tab = [], [], [], []
            for i in range(len(pdf)):
                for cell in order[i]:
                    qres = Q[i] - C[cell]  # the query residual for THIS cell
                    tab = np.empty((m, pq_k), dtype="float64")
                    for j in range(m):
                        sub = qres[j * dsub : (j + 1) * dsub]
                        tab[j] = ((B[j] - sub[None, :]) ** 2).sum(-1)
                    out_id.append(pdf["query_id"].iloc[i])
                    out_q.append(pdf["_q"].iloc[i])
                    out_cell.append(int(cell))
                    out_tab.append([row.tolist() for row in tab])
            yield pd.DataFrame(
                {
                    "query_id": out_id,
                    "_q": out_q,
                    "_cell": out_cell,
                    "_dtab": out_tab,
                }
            )

    probes = q.mapInPandas(
        probe,
        schema=(
            f"query_id {q_id_type}, _q array<double>, _cell int, "
            "_dtab array<array<double>>"
        ),
    )
    pairs = probes.join(codes, "_cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return pairs.select(
        "query_id",
        "neighbor_id",
        "_q",
        _adc_sum(F.col("codes"), F.col("_dtab"), m).alias("_adc"),
    )
