"""Fully-distributed LOF via LSH candidate generation (SURVEY.md §2.7
M6 "hardest at scale" + §7 hard-problem #1).

``ml.lof.LOFNoveltyModel`` broadcasts a bounded reference sample —
right for serving, but capped. This variant computes LOF as a pure
composition of DataFrame operators, so BOTH sides scale out:

  1. ``approxSimilarityJoin`` (BucketedRandomProjectionLSH) generates
     candidate neighbor pairs bucket-locally (no cross join);
  2. a ranking window keeps each point's k nearest candidates;
  3. k-distance, reachability distance, lrd, and the final LOF ratio
     are grouped aggregations + self-joins on point ids.

Approximation: neighbors missed by LSH inflate distances slightly;
tests assert ranking quality (planted anomalies on top), not value
parity with the exact form. Reference semantics per Breunig et al.
2000 (public).
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, Window, functions as F


def _collect_sample(df: DataFrame, vec_col: str, sample_size: int = 1024):
    """Bounded driver-side sample matrix (the scorers' fit-pool
    discipline) shared by the cutoff and bucket-length estimators."""
    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias("_x"))
        .filter(F.col("_x").isNotNull())
        .limit(sample_size)
        .collect()
    )
    return np.array([r["_x"] for r in rows], dtype=np.float64)


def auto_bucket_length(
    X: np.ndarray,
    n_total: int,
    target_occupancy: int = 512,
    legacy_cap: float = 2.0,
) -> float:
    """Corpus-adaptive BRP bucket length for the LOF candidate stage.

    Identical reasoning to operators/similarity._auto_bucket_length,
    generalized to unnormalized vectors: the projection of x onto a
    random unit direction has std ~ the component std of the data, so
    a FIXED bucket length gives a FIXED number of buckets per table
    and occupancy — hence the bucket join's pair count — grows
    linearly with the corpus (measured in the x10 scale drill:
    ml_lof_distributed hit slope 1.92, 401 s at 20k vectors). Scaling
    the bucket count with n keeps occupancy — and the candidate join —
    linear in n. The cap preserves small-corpus behavior; points that
    lose their k-NN to narrower buckets are caught by the existing
    phase-2 escalation, which is exactly the recall safety net this
    operator already carries.
    """
    sigma = float(X.std()) if X.size else 1.0
    spread = 6.0 * max(sigma, 1e-9)
    return float(
        min(
            legacy_cap,
            max(
                spread * float(target_occupancy) / float(max(n_total, 1)),
                spread / 4096.0,
            ),
        )
    )


def estimate_distance_cutoff(
    df: DataFrame,
    vec_col: str = "embedding",
    n_neighbors: int = 20,
    sample_size: int = 1024,
    pct: float = 95.0,
    factor: float = 1.0,
    fanout_per_k: int = 4,
    n_total: int | None = None,
    seed: int = 42,
    X: "np.ndarray | None" = None,
) -> float:
    """Sample-estimated candidate-distance cutoff, fan-out capped.

    Two estimates, take the smaller:

    1. the ``pct``-th percentile of the sampled k-NN distance × ``factor``
       (recall: admits each point's true k-NN for ~pct% of points);
    2. the pairwise-distance quantile at which the EXPECTED candidate
       count per point is ``fanout_per_k * n_neighbors`` (cost: caps the
       LSH join output even under high-dimensional distance
       concentration, where the gap between the k-NN distance and the
       median pair distance collapses and any padded cutoff admits
       nearly all n² pairs — measured: factor=2.0 on unit-norm 64-d
       vectors returned 1871 of 1999 possible candidates per point).

    Points whose true k-NN falls beyond the cutoff escalate to the
    wide phase-2 join in :func:`distributed_lof`, so tightening the
    cutoff trades phase-2 size, not correctness. Driver cost is
    O(sample_size²) on a Gram matrix (≤ ~8 MB), the same
    bounded-sample discipline as the scorers' fit pools.
    """
    if X is None:
        X = _collect_sample(df, vec_col, sample_size)
    if len(X) < 2:
        return float("inf")
    sq = (X * X).sum(axis=1)
    d2 = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (X @ X.T), 0.0)
    k = min(n_neighbors, len(X) - 1)
    kth = np.sqrt(np.partition(d2, k, axis=1)[:, k])  # index 0 is self
    recall_cut = float(factor * np.percentile(kth, pct))

    if n_total is None:
        n_total = df.count()
    if n_total <= 1:
        return recall_cut
    cap_cut = pairwise_quantile_cutoff(
        X, n_total, fanout_per_k * n_neighbors
    )
    return min(recall_cut, cap_cut)


def pairwise_quantile_cutoff(X: np.ndarray, n_total: int, target_fanout: float) -> float:
    """Distance at which the EXPECTED candidate count per point is
    ``target_fanout``, estimated from the sample's pairwise-distance
    distribution. The pure cost bound (no recall term) — used for the
    phase-2 escalation radius, which must stay wide enough to reach
    the nearest real mass from an isolated point / micro-cluster."""
    if len(X) < 2 or n_total <= 1:
        return float("inf")
    sq = (X * X).sum(axis=1)
    d2 = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (X @ X.T), 0.0)
    d = np.sqrt(d2)
    np.fill_diagonal(d, np.inf)
    offdiag = d[np.isfinite(d)]
    target = min(float(target_fanout), float(n_total - 1))
    return float(np.quantile(offdiag, min(1.0, target / (n_total - 1))))


def distributed_lof(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_neighbors: int = 20,
    bucket_length: float | str = "auto",
    num_hash_tables: int = 4,
    max_distance: float | None = None,
    escalate_distance: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """LOF score for every row of ``df`` against ``df`` itself
    (outlier-detection mode). Returns (id, lof).
    ``bucket_length="auto"`` keeps LSH bucket occupancy constant as
    the corpus grows (see :func:`auto_bucket_length`).

    Candidate generation is two-phase: (1) a cutoff-bounded LSH join
    for the dense bulk, then (2) points left with fewer than
    ``n_neighbors`` candidates — isolated points and micro-clusters
    smaller than k, i.e. exactly the LOF-positive shapes the cutoff
    would otherwise blind — escalate to a join at a WIDER but still
    bounded radius: the sample quantile at which expected fan-out is
    32 candidates per neighbor slot (``pairwise_quantile_cutoff``),
    wide enough to reach the nearest real mass from an isolated point
    yet never the old unbounded radius, which degenerated to every
    bucket co-location on distance-concentrated corpora (measured
    54M pairs / 309 s on the x10 scale drill; bounded: 14 s).
    """
    from ..operators.partitioning import spread_narrow

    df = spread_narrow(df)
    pts = df.select(
        F.col(id_col).alias("_id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_v"),
    )
    # The sample and count-star are bounded driver-side jobs, but
    # they're only needed by the estimators below — a caller pinning
    # max_distance, a float bucket_length AND escalate_distance (e.g.
    # a production job re-using radii tuned on yesterday's corpus)
    # triggers neither.
    _est: dict = {}

    def _sample():
        if "X" not in _est:
            _est["X"] = _collect_sample(df, vec_col)
            _est["n"] = df.count()
        return _est["X"], _est["n"]

    if max_distance is None:
        X, n_total = _sample()
        max_distance = estimate_distance_cutoff(
            df, vec_col=vec_col, n_neighbors=n_neighbors,
            n_total=n_total, seed=seed, X=X,
        )
    if bucket_length == "auto":
        X, n_total = _sample()
        bucket_length = auto_bucket_length(X, n_total)
    if escalate_distance is None:
        # Escalation (phase 2) distance: the sample quantile at which
        # the EXPECTED fan-out is 32 candidates per neighbor slot —
        # wide enough to reach the nearest real mass from an isolated
        # point or sub-k micro-cluster (the LOF-positive shapes
        # escalation exists for), but a bounded join unlike the old
        # 1e12 radius, which admitted every bucket co-location:
        # measured 54M pairs / 309 s on the x10 drill while the
        # cutoff-bounded phase 1 cost 12 s.
        X, n_total = _sample()
        escalate_distance = pairwise_quantile_cutoff(
            X, n_total, 32.0 * n_neighbors
        )
    if not np.isfinite(escalate_distance):
        escalate_distance = 1e12  # degenerate sample: stay permissive
    escalate_distance = max(float(escalate_distance), float(max_distance))
    lsh = BucketedRandomProjectionLSH(
        inputCol="_v",
        outputCol="_h",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(pts)
    # Pre-hash ONCE and pin: approxSimilarityJoin reuses an existing
    # hash column, so both phases probe the same materialized hashed
    # set instead of re-running the LSH projection per join side.
    hashed = model.transform(pts).localCheckpoint(eager=True)

    def _pairs(left, dist):
        return (
            model.approxSimilarityJoin(left, hashed, dist, distCol="_d")
            .select(
                F.col("datasetA._id").alias("a"),
                F.col("datasetB._id").alias("b"),
                "_d",
            )
            .filter(F.col("a") != F.col("b"))
        )

    # Materialize phase-1 candidates ONCE: they feed the dense-id
    # count, the semi-join back, and (via sparse_pts) the escalation
    # join — without this the LSH explode+join runs three times. The
    # candidate list is cutoff-bounded, so it is the small artifact of
    # the computation, safe to pin.
    phase1 = _pairs(hashed, max_distance).localCheckpoint(eager=True)
    # ids with >= k candidates keep their phase-1 pairs; the rest
    # escalate — sub-k candidate lists are exactly the isolated-point /
    # micro-cluster shapes LOF must look beyond (weakening this to k/4
    # was tried and broke planted-micro-cluster ranking; the cost
    # lever is the bounded escalation RADIUS above, not the criterion).
    dense_ids = (
        phase1.groupBy("a")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= n_neighbors)
        .select("a")
    )
    sparse_pts = hashed.join(
        dense_ids.withColumnRenamed("a", "_id"), "_id", "left_anti"
    )
    phase2 = _pairs(sparse_pts, escalate_distance)
    joined = phase1.join(dense_ids, "a", "left_semi").unionByName(phase2)
    w = Window.partitionBy("a").orderBy("_d", "b")
    # knn feeds k-distance, reachability, and the neighbor-lrd join —
    # pin it (n x k rows) so the top-k window runs once.
    knn = joined.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= n_neighbors
    ).localCheckpoint(eager=True)

    # k-distance of each point = distance to its k-th kept neighbor.
    # The kdist/lrd/out sides below are one-row-per-VERTEX tables:
    # shuffle_hash, never broadcast (they scale with n at 100 TB) and
    # never sort-merge (post-checkpoint stats blind the planner into
    # SMJ, paying two sorts per join for hash-relation-sized sides —
    # r12 interleaved A/B: 3 of 4 paired reps faster with the hints).
    kdist = knn.groupBy("a").agg(F.max("_d").alias("_kdist"))

    # reach_dist_k(a, b) = max(kdist(b), d(a, b))
    reach = (
        knn.join(
            kdist.select(
                F.col("a").alias("b"), F.col("_kdist").alias("_kdist_b")
            ).hint("shuffle_hash"),
            "b",
        )
        # the 1e-12 floor keeps exact-duplicate groups (all pair
        # distances 0) at a huge-but-finite lrd, so their LOF stays
        # ~1.0 instead of Inf/Inf = NaN
        .withColumn("_reach", F.greatest("_kdist_b", "_d", F.lit(1e-12)))
    )
    # lrd(a) = |kNN(a)| / sum(reach)
    lrd = reach.groupBy("a").agg(
        (F.count(F.lit(1)) / F.sum("_reach")).alias("_lrd")
    )
    # LOF(a) = mean(lrd(b) for b in kNN(a)) / lrd(a)
    neigh_lrd = knn.join(
        lrd.select(F.col("a").alias("b"), F.col("_lrd").alias("_lrd_b")).hint(
            "shuffle_hash"
        ),
        "b",
    ).groupBy("a").agg(F.avg("_lrd_b").alias("_mean_lrd_b"))
    out = neigh_lrd.join(lrd.hint("shuffle_hash"), "a").select(
        F.col("a").alias(id_col),
        (F.col("_mean_lrd_b") / F.col("_lrd")).alias("lof"),
    )
    # A point with NO candidate within max_distance is more isolated
    # than anything the cutoff admitted — i.e. the strongest outlier.
    # Re-attach such points with lof = +Infinity instead of silently
    # dropping them (rank-correct for top-k anomaly queries).
    return (
        df.select(F.col(id_col))
        .join(out.hint("shuffle_hash"), id_col, "left")
        .withColumn("lof", F.coalesce(F.col("lof"), F.lit(float("inf"))))
    )
