"""North-star extension tests (§2.10): recall of the approximate
dedup/similarity tiers against their exact oracle-checked twins, and
the multimodal plumbing's schema/batch contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_anomaly_detection_spark.operators.dedup import (
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from financial_anomaly_detection_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from financial_anomaly_detection_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def exact_pairs(docs):
    got = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    return {(r["id_a"], r["id_b"]) for r in got}


def test_exact_jaccard_finds_planted_near_dups(exact_pairs):
    # the driver testdata plants near-duplicate documents
    assert len(exact_pairs) > 0


def test_minhash_recall_vs_exact(docs, exact_pairs):
    approx = minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hash_tables=8, max_jaccard_distance=0.5
    ).collect()
    approx_pairs = {(r["id_a"], r["id_b"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"minhash recall {recall}: {exact_pairs - approx_pairs}"


def test_simhash_flags_planted_near_dups(docs, exact_pairs):
    sim = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=10).collect()
    sim_pairs = {(r["id_a"], r["id_b"]) for r in sim}
    # simhash is coarser than shingle jaccard; require it to catch the
    # strongest duplicates (J >= 0.9)
    strong = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.9).collect()
    }
    if strong:
        recall = len(strong & sim_pairs) / len(strong)
        assert recall >= 0.8, f"simhash missed strong dups: {strong - sim_pairs}"


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, qs, "vec_id", "embedding", k=10).collect()
    approx = lsh_topk(emb, qs, "vec_id", "embedding", k=10, num_hash_tables=6).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_multimodal_decode_contract(spark, sf_dir):
    from financial_anomaly_detection_spark.operators.multimodal import (
        IMAGE_FEATURES_SCHEMA,
        attach_fake_payload,
        decode_image_features,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_fake_payload(docs)
    assert media.schema["payload"].dataType.simpleString() == "binary"
    feats = decode_image_features(media)
    assert feats.schema == IMAGE_FEATURES_SCHEMA
    rows = feats.collect()
    assert len(rows) == 50
    r = rows[0]
    assert r["decoder"] in ("pil", "stub")
    assert len(r["feature_vec"]) == 16
    # deterministic: same payload -> same features
    again = decode_image_features(media).collect()
    assert sorted(map(repr, rows)) == sorted(map(repr, again))


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from financial_anomaly_detection_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, qs, "vec_id", "embedding", k=10).collect()
    approx = ivf_topk(emb, qs, "vec_id", "embedding", k=10, nlist=8, nprobe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe/nlist = 1/2 of cells searched -> expect well above half of
    # true neighbors found (near neighbors concentrate in near cells)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """IVFADC (IVF routing + residual-PQ ADC + exact re-rank) must
    keep recall >= 0.75 vs the exact tier (0.84 measured at sf0.01,
    nlist=8/nprobe=6 on structure-free vectors — the loss is cell
    routing, same as IVF-flat, plus the pinned PQ shortlist)."""
    from financial_anomaly_detection_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qs, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_topk(emb, qs, k=10, nlist=8, nprobe=6).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.75, f"IVFPQ recall@10 {recall:.2f} < 0.75"


def test_distributed_lof_ranks_planted_anomalies(spark):
    import numpy as np
    from financial_anomaly_detection_spark.ml.lof_distributed import distributed_lof

    rng = np.random.default_rng(5)
    normal = rng.normal(0.0, 1.0, size=(400, 6))
    anom = rng.normal(7.0, 0.3, size=(5, 6))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([normal, anom]))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scored = distributed_lof(df, "vec_id", "embedding", n_neighbors=15, bucket_length=4.0)
    top = {r["vec_id"] for r in scored.orderBy(F.desc("lof")).limit(5).collect()}
    assert top == {400, 401, 402, 403, 404}


def test_prefix_filter_jaccard_lossless_and_pruning(docs):
    """Prefix filtering must return EXACTLY the naive tier's pairs
    (losslessness is a theorem; this is the machine check) while
    joining on strictly fewer exploded shingle rows."""
    from financial_anomaly_detection_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
        shingles_col,
    )

    naive = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    pref = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert pref == naive and len(naive) > 0

    # pruning evidence: prefix keeps ~(1-t) of each doc's shingles
    total = docs.select(F.explode(shingles_col("text", 3))).count()
    sz = F.size(shingles_col("text", 3))
    kept = docs.select(
        (sz - F.ceil(F.lit(0.5) * sz) + 1).alias("p")
    ).agg(F.sum("p")).collect()[0][0]
    assert kept < 0.6 * total


def test_count_min_sketch_properties(spark):
    """CMS invariants (Cormode & Muthukrishnan 2005): estimates never
    undercount, grid size is fixed at depth*width regardless of data,
    and the total per-row mass equals the stream length."""
    from financial_anomaly_detection_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    rows = [(f"k{i % 37}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, "k string")
    grid = count_min_sketch(df, "k", depth=4, width=64)
    g = grid.collect()
    assert len(g) <= 4 * 64
    # every sketch row preserves total mass
    per_row = {}
    for r in g:
        per_row[r["j"]] = per_row.get(r["j"], 0) + r["cnt"]
    assert set(per_row.values()) == {2500}

    truth = {r["k"]: r["cnt"] for r in df.groupBy("k").count().withColumnRenamed("count", "cnt").collect()}
    keys = df.select("k").distinct()
    est = {r["k"]: r["est"] for r in cms_estimate(grid, keys, "k", depth=4, width=64).collect()}
    assert set(est) == set(truth)
    for k, t in truth.items():
        assert est[k] >= t, f"CMS undercounted {k}"
    # the planted heavy hitter dominates and is estimated tightly
    # (width 64 >> 38 distinct keys -> few collisions)
    assert est["hot"] >= 500
    assert max(est, key=lambda k: (est[k], k)) == "hot"


def test_cms_join_estimate_disjoint_keys_is_zero(spark):
    """A sketch row with zero overlapping buckets has true inner
    product 0 — the estimator must return 0 (not NULL, not an
    overstatement from surviving rows only) for fully disjoint key
    sets, and stay an upper bound on overlapping ones."""
    from financial_anomaly_detection_spark.operators.sketches import (
        cms_join_size_estimate,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(50)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(50)], "k string")
    # wide grid so 50+50 keys land without bucket collisions
    est = cms_join_size_estimate(a, "k", b, "k", depth=4, width=4096).collect()
    assert est[0]["est_join_rows"] == 0

    # sanity: overlapping sets stay an upper bound on the true size
    c = spark.createDataFrame([(f"a{i}",) for i in range(10)] * 3, "k string")
    est2 = cms_join_size_estimate(a, "k", c, "k", depth=4, width=4096).collect()
    assert est2[0]["est_join_rows"] >= 30


def test_lsh_home_fixture_clustered_recall(spark):
    """BRP-LSH's documented home fixture: strongly clustered vectors.
    Opt-in tier must deliver near-exact recall there (the measured
    60k-vector version is in SCALING.md; this is the fast replica)."""
    import numpy as np
    from financial_anomaly_detection_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    rng = np.random.default_rng(4)
    centers = rng.normal(0, 10.0, size=(40, 16))
    X = np.repeat(centers, 100, axis=0) + rng.normal(0, 0.3, size=(4000, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(X)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") % 80 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qs, "vec_id", "embedding", k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, qs, "vec_id", "embedding", k=10).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.9


def test_distributed_lof_pinned_params_skip_estimator_jobs(spark, monkeypatch):
    """A caller pinning max_distance + bucket_length + escalate_distance
    (production radii tuned offline) must trigger NO driver-side sample
    or count-star — the estimators are the only consumers."""
    import numpy as np
    from financial_anomaly_detection_spark.ml import lof_distributed as mod

    def _boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("estimator job ran despite pinned params")

    monkeypatch.setattr(mod, "_collect_sample", _boom)
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(rng.normal(0.0, 1.0, size=(120, 4)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scored = mod.distributed_lof(
        df,
        "vec_id",
        "embedding",
        n_neighbors=10,
        bucket_length=4.0,
        max_distance=3.0,
        escalate_distance=6.0,
    )
    assert scored.count() == 120


def test_near_dup_clusters_match_union_find(docs):
    """Min-label propagation clusters == ground-truth union-find over
    the same pair list."""
    from financial_anomaly_detection_spark.operators.dedup import (
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    pairs_df = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
    assert pairs, "need near-dup pairs for a meaningful cluster test"

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {x: find(x) for x in parent}
    # normalize: representative = min of component
    comp = {}
    for x, r in expected.items():
        comp.setdefault(find(r), set()).add(x)
    truth = {x: min(members) for members in comp.values() for x in members}

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs_df).collect()
    }
    assert got == truth


def test_chunk_text_reconstructs_documents(spark, sf_dir):
    """Chunking invariants: concatenating non-overlap segments restores
    the token stream; every chunk except possibly the last is full."""
    from financial_anomaly_detection_spark.operators.textops import chunk_text
    from financial_anomaly_detection_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    chunks = chunk_text(docs, "doc_id", "text", chunk_tokens=64, overlap=8).collect()
    originals = {r["doc_id"]: r["text"].strip().split() for r in docs.collect()}
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        toks = []
        for r in rows:
            ctoks = r["chunk_text"].split()
            assert len(ctoks) == r["n_chunk_tokens"]
            toks.extend(ctoks if r["chunk_idx"] == 0 else ctoks[8:])
        assert toks == originals[doc_id], f"doc {doc_id} not reconstructed"


# --- hot-shingle document-frequency cap (round 4) -------------------------


def test_capped_jaccard_identical_on_corpus(docs, exact_pairs):
    # with a cap comfortably above the corpus's near-dup link DFs, the
    # capped tier must return the EXACT same (pair, jaccard) results —
    # values recomputed from full shingle sets, not the capped subset
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=20
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == exact_pairs
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    for r in capped:
        assert uncapped[(r["id_a"], r["id_b"])] == r["jaccard"]


def test_cap_bounds_hot_shingle_join(spark):
    from financial_anomaly_detection_spark.operators.dedup import jaccard_candidates

    # 100 docs all sharing one boilerplate phrase + unique filler, plus
    # one genuine near-dup pair that also shares non-hot shingles
    boiler = "all rights reserved by the site"
    rows = [(i, f"{boiler} unique filler words number {i} here") for i in range(100)]
    rows += [(200, "the quick brown fox jumps high"), (201, "the quick brown fox jumps higher")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = jaccard_candidates(df, "doc_id", "text", n=3).count()
    capped = jaccard_candidates(df, "doc_id", "text", n=3, max_shingle_df=10)
    capped_rows = capped.collect()
    # boilerplate alone links 100*99/2 pairs; the cap removes them all
    assert uncapped >= 100 * 99 // 2
    assert len(capped_rows) < 100
    assert (200, 201) in {(r["id_a"], r["id_b"]) for r in capped_rows}

    # and the capped FULL tier still scores the genuine pair exactly
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=10
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert got[(200, 201)] == exact[(200, 201)]


def test_quantized_ann_surrogate_anchors_exact_tier(spark, sf_dir):
    # chain of evidence: DuckDB oracle == ann_exact_quantized (driver
    # hash gate) and ann_exact_quantized ~~ brute_force_topk (this
    # test), so the float exact tier the LSH/IVF recall tests compare
    # against is itself oracle-anchored. Milli-unit quantization can
    # only flip neighbors within ~1e-3 cosine of each other, so top-10
    # overlap stays near-perfect (measured 0.996 mean / 0.9 min).
    from collections import defaultdict

    from financial_anomaly_detection_spark.queries import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    qs = emb.filter(F.col("vec_id") < 50)
    exact = brute_force_topk(emb, qs, k=10).collect()
    quant = REGISTRY["ann_exact_quantized"].fn(spark, sf_dir).collect()
    e, q = defaultdict(set), defaultdict(set)
    for r in exact:
        e[r["query_id"]].add(r["neighbor_id"])
    for r in quant:
        q[r["query_id"]].add(r["neighbor_id"])
    overlaps = [len(e[k] & q[k]) / 10 for k in e]
    assert len(overlaps) == 50
    assert sum(overlaps) / len(overlaps) >= 0.95
    assert min(overlaps) >= 0.8


def test_auto_bucket_length_rule():
    from financial_anomaly_detection_spark.operators.similarity import (
        _auto_bucket_length,
    )

    # small corpora keep the legacy 0.5 (recall-safe on uniform data)
    assert _auto_bucket_length(100, 32) == 0.5
    assert _auto_bucket_length(2000, 32) == 0.5
    # large corpora shrink ~1/n (constant occupancy), floored at 0.02
    w5k = _auto_bucket_length(5_000, 32)
    w50k = _auto_bucket_length(50_000, 32)
    assert 0.02 <= w50k < w5k < 0.5
    assert abs(w5k / w50k - 10.0) < 0.5  # ~linear shrink between caps
    assert _auto_bucket_length(10**9, 32) == 0.02


def test_lsh_auto_keeps_duplicate_recall_at_scale(spark):
    """The claim behind auto bucket sizing: narrow buckets stay
    distance-selective — exact-duplicate neighbors co-bucket at ANY
    bucket length, so top-1 twin recall survives the shrink."""
    import random

    from financial_anomaly_detection_spark.operators.similarity import (
        _auto_bucket_length,
        lsh_topk,
    )

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(150)]
    rows = []
    for rep in range(40):  # 40 exact copies of each vector
        for i, v in enumerate(base):
            rows.append((rep * 1000 + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert _auto_bucket_length(len(rows), 16) < 0.5  # shrink engaged
    qs = emb.filter(F.col("vec_id") < 25)  # 25 originals as queries
    got = lsh_topk(emb, qs, "vec_id", "embedding", k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert len(by_q) == 25
    for q, neighbors in by_q.items():
        twins = {rep * 1000 + q for rep in range(1, 40)}
        # every returned top-5 neighbor of vector q is one of its twins
        assert set(neighbors) <= twins, (q, neighbors)
        assert len(neighbors) == 5


def test_auto_nlist_rule():
    from financial_anomaly_detection_spark.operators.similarity import auto_nlist

    # small corpora keep the legacy 16 cells (recall-safe)
    assert auto_nlist(50) == 16
    assert auto_nlist(500) == 16
    # sqrt growth beyond the floor: 10x corpus -> ~3.2x cells
    n20k, n200k = auto_nlist(20_000), auto_nlist(200_000)
    assert n20k == 100
    assert abs(n200k / n20k - 10 ** 0.5) < 0.05


def test_auto_band_bits_rule():
    from financial_anomaly_detection_spark.operators.similarity import auto_band_bits

    assert auto_band_bits(10) == 4       # floor: tiny corpora permissive
    assert auto_band_bits(2000) == 6
    assert auto_band_bits(60_000) == 11
    assert auto_band_bits(10**9) == 16   # cap: >= 4 bands of a 64-bit sig
    # adaptive width ~log2(n): candidates/query ~ bands*n/2^bits stays flat
    for n in (1 << 12, 1 << 16, 1 << 20):
        bits = auto_band_bits(n)
        expected = (64 // bits) * n / (1 << bits)
        assert expected < 400, (n, bits, expected)


def test_simhash_vector_topk_finds_near_duplicates(spark):
    """Recall contract of the pure-Catalyst ANN tier: perturbed copies
    (cosine ~ 0.999) must dominate each query's top-k despite the
    banded candidate pruning."""
    import random

    from financial_anomaly_detection_spark.operators.similarity import (
        simhash_vector_topk,
    )

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(200)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        for rep in range(1, 6):  # 5 tiny perturbations of each vector
            rows.append(
                (rep * 1000 + i, [x + rng.gauss(0, 0.01) for x in v])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") < 30)
    got = simhash_vector_topk(emb, qs, "vec_id", "embedding", k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    assert len(by_q) == 30
    for q, neigh in by_q.items():
        twins = {rep * 1000 + q for rep in range(1, 6)}
        found = {n for n, _ in neigh}
        # at least 4 of the 5 planted near-dups surface in the top-5
        assert len(found & twins) >= 4, (q, found)
        assert all(c > 0.99 for n, c in neigh if n in twins)


def test_simhash_vector_signature_deterministic(spark):
    from financial_anomaly_detection_spark.operators.similarity import (
        simhash_vector_signatures,
    )

    rows = [(i, [float(i % 7) * 0.3 - 1.0 + 0.1 * j for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {r["vec_id"]: r["simhash"] for r in simhash_vector_signatures(df).collect()}
    b = {r["vec_id"]: r["simhash"] for r in simhash_vector_signatures(df.repartition(7)).collect()}
    assert a == b  # layout-independent
    assert len(set(a.values())) > 1  # signatures actually discriminate



def test_quantile_sketch_rank_error_and_determinism(spark, sf_dir):
    """The mergeable quantile sketch's estimates must sit within the
    documented rank-error bound (N/k per group level => <=1% of N with
    margin), and be a pure function of the DATA — identical after
    repartitioning, because group assignment hashes the row id, not
    the partition."""
    from financial_anomaly_detection_spark.operators.sketches import (
        quantile_sketch_estimates,
        quantile_sketch_knots,
    )

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    knots = quantile_sketch_knots(cents, "cents", "event_id")
    est = {
        r["q"]: r["est"]
        for r in quantile_sketch_estimates(knots, qs).collect()
    }
    n = cents.count()
    for q in qs:
        # exact rank of the estimate: how many values are <= it
        rank = cents.filter(F.col("cents") <= est[q]).count()
        assert abs(rank - q * n) <= 0.01 * n + 1, (
            f"q={q}: est={est[q]} has rank {rank}, want ~{q * n:.0f} "
            f"(err {abs(rank - q * n) / n:.4%})"
        )

    # layout-independence: wildly different partitioning, same sketch
    knots2 = quantile_sketch_knots(
        cents.repartition(7, "cents"), "cents", "event_id"
    )
    est2 = {
        r["q"]: r["est"]
        for r in quantile_sketch_estimates(knots2, qs).collect()
    }
    assert est == est2



def test_semdedup_drops_planted_duplicates(spark, sf_dir):
    """SemDeDup must drop planted exact duplicates (which provably
    share a cluster cell) and keep their smallest-id originals, while
    leaving the rest of the corpus untouched at threshold ~1."""
    from financial_anomaly_detection_spark.operators.similarity import semdedup

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dupes = em.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = em.unionByName(dupes)
    kept = semdedup(corpus, "vec_id", "embedding", threshold=0.999999)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    # every planted copy is gone, every original survives
    assert all(100000 + i not in kept_ids for i in range(20))
    assert all(i in kept_ids for i in range(20))
    # nothing else disappeared at a ~exact-match threshold unless it
    # has a genuine exact twin (testdata embeddings contain none)
    n_base = em.count()
    assert len(kept_ids) == n_base


def test_semdedup_pair_cap_keeps_exact_twin_guarantee(spark):
    """With a tiny pair_cap and ONE forced cell (hot-cell worst case),
    exact duplicates must still be dropped however far apart they sit
    in the md5 band order (the vector-hash twin join), while the
    capped band bounds the near-dup comparison fan-out."""
    import numpy as np

    from financial_anomaly_detection_spark.operators.similarity import semdedup

    rng = np.random.default_rng(7)
    base = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)]
    # exact copies of ids 0..9 at ids 9000..9009
    dupes = [(9000 + i, base[i][1]) for i in range(10)]
    df = spark.createDataFrame(base + dupes, "vec_id long, embedding array<double>")
    kept = semdedup(
        df, "vec_id", "embedding", threshold=0.999999, nlist=1, pair_cap=8
    )
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert all(9000 + i not in kept_ids for i in range(10))
    assert all(i in kept_ids for i in range(10))
    assert len(kept_ids) == 400


def test_semdedup_threshold_one_paths_agree(spark):
    """At threshold=1.0 exact twins must drop in BOTH the capped and
    uncapped paths (the float cosine of identical vectors can land at
    0.999..9 < 1.0, so the uncapped path needs the same vector-hash
    twin rule — without it the adaptive dispatch made the output
    depend on whether the cap engaged)."""
    import numpy as np

    from financial_anomaly_detection_spark.operators.similarity import semdedup

    rng = np.random.default_rng(13)
    base = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(60)]
    dupes = [(9000 + i, base[i][1]) for i in range(6)]
    df = spark.createDataFrame(
        base + dupes, "vec_id long, embedding array<double>"
    )
    uncapped = {
        r["vec_id"]
        for r in semdedup(
            df, "vec_id", "embedding", threshold=1.0, nlist=1, pair_cap=None
        ).collect()
    }
    capped = {
        r["vec_id"]
        for r in semdedup(
            df, "vec_id", "embedding", threshold=1.0, nlist=1, pair_cap=8
        ).collect()
    }
    assert uncapped == capped
    assert all(9000 + i not in uncapped for i in range(6))
    assert all(i in uncapped for i in range(6))


def test_ann_topk_auto_survives_odd_dims_and_tiny_corpora(spark):
    """IVFADC (``ivf_pq_topk``, the scale ANN tier) must not hard-fail
    when the embedding dim is not divisible by the default m=8 (m
    degrades to the largest divisor, 20 -> 5) nor when the corpus is
    smaller than pq_k (codebooks clamp to the sample size and the
    probe tables use the fitted width)."""
    import numpy as np

    from financial_anomaly_detection_spark.operators import similarity as sim

    rng = np.random.default_rng(17)
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(rng.normal(0.0, 1.0, size=(300, 20)))
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") % 60 == 0)
    got = sim.ivf_pq_topk(emb, qs, k=5, nlist=4, nprobe=2).collect()
    assert len(got) > 0
    assert all(r["neighbor_id"] < 300 for r in got)

    # corpus smaller than pq_k=16: fitted codebooks have < pq_k
    # centers; the fixed-width distance-table assignment used to raise
    tiny_rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(rng.normal(0.0, 1.0, size=(12, 16)))
    ]
    tiny = spark.createDataFrame(tiny_rows, "vec_id long, embedding array<double>")
    tq = tiny.filter(F.col("vec_id") == 0)
    out = sim.ivf_pq_topk(tiny, tq, k=3, nlist=2, nprobe=2)
    assert out.count() > 0


def test_bpe_train_matches_textbook_reference(spark, sf_dir):
    """The relational BPE trainer must reproduce the textbook
    algorithm (Sennrich 2016) merge-for-merge: same pairs in the same
    order with the same weighted frequencies, including deterministic
    lexicographic tie-breaks."""
    import re
    from collections import Counter

    from financial_anomaly_detection_spark.operators.textops import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    n_merges = 8

    got = [
        (r["rank"], r["left"], r["right"], r["pair_freq"])
        for r in bpe_train_merges(docs, "text", n_merges=n_merges)
        .orderBy("rank")
        .collect()
    ]

    # textbook reference on the same word-frequency table
    freqs = Counter()
    for row in docs.select("text").collect():
        for w in re.split(r"\s+", (row["text"] or "").strip().lower()):
            if re.fullmatch(r"[a-z]+", w) and len(w) <= 20:
                freqs[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in freqs.items()}
    want = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        (a, b), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, a, b, freq))
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab

    assert got == want

    # the serving half: per-document token counts from the segmented
    # word-type vocabulary must match the reference segmentation
    from financial_anomaly_detection_spark.operators.textops import (
        bpe_token_counts,
    )

    seg_len = {"".join(w).replace("</w>", ""): len(syms) for syms, c in vocab.items() for w in [syms]}
    got_counts = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(docs, "doc_id", "text", n_merges=n_merges).collect()
    }
    want_counts = {}
    for row in docs.select("doc_id", "text").collect():
        words = [
            w
            for w in re.split(r"\s+", (row["text"] or "").strip().lower())
            if re.fullmatch(r"[a-z]+", w) and len(w) <= 20
        ]
        if words:
            want_counts[row["doc_id"]] = (
                len(words),
                sum(seg_len[w] for w in words),
            )
    assert got_counts == want_counts


def test_bpe_merges_exact_surrogate_matches_textbook(spark):
    """The bpe_merges_exact surrogate (fixed injected word table
    through the REAL _bpe_train_from_words plans) must reproduce the
    textbook greedy merges — the same pin the corpus trainer carries,
    on the table the DuckDB oracle replays. Also asserts the edge
    cases the injected table was designed to force: the round-1
    lexicographic 3-way tie, the adjacent-identical (a,a) pair counted
    non-overlapping (2 per 'aaa'), and 'abab' rewriting BOTH disjoint
    (a,b) occurrences in one round."""
    from collections import Counter

    from financial_anomaly_detection_spark.queries.text_curation import (
        _BPE_EXACT_MERGES,
        _BPE_EXACT_WORDS,
    )
    from financial_anomaly_detection_spark.queries import REGISTRY

    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_freq"])
        for r in REGISTRY["bpe_merges_exact"]
        .fn(spark, "/root/testdata/sf0.001")
        .orderBy("rank")
        .collect()
    ]

    vocab = {tuple(list(w) + ["</w>"]): c for w, c in _BPE_EXACT_WORDS}
    want = []
    for rank in range(1, _BPE_EXACT_MERGES + 1):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        (a, b), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, a, b, a + b, freq))
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    assert got == want
    # designed-in edge cases actually fired
    assert got[0][1:3] == ("e", "s") and got[0][4] == 9  # tie -> lexicographic
    assert (4, "a", "a", "aa", 8) in got  # non-overlap: 2 per 'aaa' x 4
    assert ("ab", "ab") in vocab or any(
        "ab" in syms for syms in vocab
    )  # abab merged both (a,b) occurrences on its round

    # the serving-join surrogate: fixed docs vs the textbook final
    # segmentation, including the OOV drop and the length-20 gate
    from financial_anomaly_detection_spark.queries.text_curation import (
        _BPE_EXACT_DOCS,
    )

    seg_len = {"".join(syms).replace("</w>", ""): len(syms) for syms in vocab}
    want_counts = {}
    for doc_id, text in _BPE_EXACT_DOCS:
        ws = [w for w in text.split() if w in seg_len]
        want_counts[doc_id] = (len(ws), sum(seg_len[w] for w in ws))
    got_counts = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in REGISTRY["bpe_tokenize_exact"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got_counts == want_counts
    assert got_counts[3][0] == 3  # notinvocab dropped by the inner join
    assert got_counts[4][0] == 3  # 34-char word dropped by the length gate


def test_bpe_exhausted_corpus_rounds_are_noops(spark):
    """When n_merges exceeds the merges the corpus supports, the
    post-exhaustion rounds must be no-ops (empty best row left-joined),
    not silently empty the vocabulary — bpe_token_counts must still
    return every document with its fully-merged segmentation."""
    from financial_anomaly_detection_spark.operators.textops import (
        bpe_token_counts,
        bpe_train_merges,
    )

    # one word type: "ab" -> [a, b, </w>] supports exactly 2 merges
    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab")], "doc_id long, text string"
    )
    merges = bpe_train_merges(docs, "text", n_merges=10).collect()
    assert len(merges) == 2  # rounds 3..10 found no pairs
    counts = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(docs, "doc_id", "text", n_merges=10).collect()
    }
    # fully merged: each "ab" is ONE token (ab</w>)
    assert counts == {1: (2, 2), 2: (1, 1)}


def test_pq_adc_recall_vs_brute_force(spark, sf_dir):
    """PQ+ADC with exact re-rank must keep high recall against the
    exact tier on structure-free vectors (0.88 measured at sf0.01
    defaults; the codebook is sample-trained so the bound is loose),
    and its encoding must be deterministic across partitionings."""
    from financial_anomaly_detection_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    em = load_table(spark, sf_dir, "embeddings")
    qs = em.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(em, qs, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(em, qs, topk=10).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.75, f"PQ recall@10 {recall:.2f} < 0.75"

    books = pq_train_codebooks(em)
    a = sorted(pq_encode(em, books).collect())
    b = sorted(pq_encode(em.repartition(7, "vec_id"), books).collect())
    assert a == b
    # the Arrow kernel (default) and the pure-Catalyst expression form
    # agree code-for-code on the fixed test corpus
    c = sorted(pq_encode(em, books, impl="catalyst").collect())
    assert a == c


def test_ivfpq_injected_quantizers_validate_shapes(spark):
    import numpy as np
    import pytest as _pytest

    from financial_anomaly_detection_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    C = np.zeros((2, 4))
    with _pytest.raises(ValueError, match="together"):
        sim.ivf_pq_adc_pairs(df, df, centroids=C)
    with _pytest.raises(ValueError, match="tile"):
        sim.ivf_pq_adc_pairs(
            df, df, centroids=C, codebooks=np.zeros((2, 3, 3))
        )
    # valid injection: 2 cells, 2 subspaces x 3 codewords x dsub 2
    out = sim.ivf_pq_adc_pairs(
        df, df, centroids=C, codebooks=np.zeros((2, 3, 2))
    )
    assert set(out.columns) == {"query_id", "neighbor_id", "_q", "_adc"}
    assert out.count() == 30  # 6 queries x 5 non-self candidates


def test_warm_fork_daemon_active(spark):
    """pydaemon.py activation pin: workers must be forked by the
    warm-fork daemon (spark.python.daemon.module), and inherit its
    preloaded pandas — i.e. pandas is in sys.modules BEFORE the kernel
    body imports anything. Checked from inside a worker by reading the
    parent (daemon) process cmdline."""
    import pandas as pd

    def probe(batches):
        import os

        try:
            with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
                parent_cmd = f.read().replace(b"\0", b" ").decode()
        except OSError:  # non-linux fallback: don't fail the suite
            parent_cmd = "unreadable"
        for pdf in batches:
            yield pd.DataFrame({"parent": [parent_cmd], "n": [len(pdf)]})

    rows = (
        spark.range(8, numPartitions=2)
        .mapInPandas(probe, "parent string, n long")
        .collect()
    )
    assert rows
    for r in rows:
        if r["parent"] != "unreadable":
            assert "financial_anomaly_detection_spark.pydaemon" in r["parent"], r[
                "parent"
            ]


def test_cross_set_shared_spans_winnow_prefilter_lossless(spark):
    """decontam_shared_span's winnowing prefilter must be LOSSLESS for
    spans >= n + w - 1: a constructed (train, bench) pair sharing an
    exactly-12-token span (the query's min_span) must be reported with
    the exact span length, while a pair sharing only an 11-token span
    must not appear. Also pins the guard that rejects an unsound
    min_span."""
    import pytest as _pytest

    from financial_anomaly_detection_spark.operators.dedup import (
        cross_set_shared_spans,
    )
    from pyspark.sql import functions as F

    span12 = " ".join(f"s{i}" for i in range(12))
    span11 = " ".join(f"t{i}" for i in range(11))
    rows = [
        # bench docs (id % 50 == 0)
        (0, f"bench left filler {span12} bench right filler words"),
        (50, f"other bench start {span11} other bench end words"),
        # train docs
        (1, f"train preamble {span12} train epilogue tokens here"),
        (2, f"train other doc {span11} more words after that"),
        (3, "completely unrelated training document with plenty of words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cross_set_shared_spans(
        df, bench_pred=(F.col("doc_id") % 50 == 0), n=8, min_span=12, winnow_w=4
    ).collect()
    got = {(r["train_doc"], r["bench_doc"]): r["max_span_tokens"] for r in out}
    assert got.get((1, 0)) == 12
    assert (2, 50) not in got  # 11-token span < min_span
    assert all(t != 3 for t, _ in got)

    # broadcast_bench=False (the fat-bench escape hatch: a non-tiny
    # bench side must be joinable without a driver-collecting
    # broadcast) is hint-only — identical rows
    out_nb = cross_set_shared_spans(
        df,
        bench_pred=(F.col("doc_id") % 50 == 0),
        n=8,
        min_span=12,
        winnow_w=4,
        broadcast_bench=False,
    ).collect()
    got_nb = {
        (r["train_doc"], r["bench_doc"]): r["max_span_tokens"] for r in out_nb
    }
    assert got_nb == got

    with _pytest.raises(ValueError, match="lossless"):
        cross_set_shared_spans(
            df, bench_pred=(F.col("doc_id") % 50 == 0), n=8, min_span=10, winnow_w=4
        )


def test_sorted_group_map_equals_apply_in_pandas_across_batch_straddle(spark):
    """sorted_group_map (operators/partitioning.py) must emit exactly
    what groupBy().applyInPandas emits, INCLUDING when a group straddles
    consecutive Arrow batches — forced here by shrinking
    maxRecordsPerBatch below the group size so nearly every batch cut
    lands mid-group (the carry-buffer path)."""
    import pandas as pd

    from financial_anomaly_detection_spark.operators.partitioning import (
        sorted_group_map,
    )

    rows = []
    for g in range(60):
        for j in range(2 + g % 5):
            rows.append((f"k{g}", g * 100 + j))
    df = spark.createDataFrame(rows, "k string, v long")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        vs = sorted(int(x) for x in pdf["v"])
        return pd.DataFrame(
            {
                "k": [pdf["k"].iloc[0]],
                "n": [len(vs)],
                "vsum": [sum(vs)],
                "vmin": [vs[0]],
            }
        )

    schema = "k string, n long, vsum long, vmin long"
    expect = {
        tuple(r) for r in df.groupBy("k").applyInPandas(fn, schema).collect()
    }
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = {tuple(r) for r in sorted_group_map(df, ["k"], fn, schema).collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got == expect


def test_sorted_group_map_null_keys_and_carry_of_carry(spark):
    """Two latent edges flagged in r11: (a) a NULL group key — pandas
    groupby defaults to dropna=True and ``==`` is always False against
    NaN, so a null-keyed group would be silently dropped or fragmented
    without the null-safe carry mask; groupBy().applyInPandas (and
    DuckDB GROUP BY) keep the null group, so parity requires keeping it.
    (b) carry-of-carry: a single group spanning >= 3 consecutive Arrow
    batches (10-row group, maxRecordsPerBatch=3 -> 4 batches) must be
    re-carried through every cut and emitted exactly once, whole."""
    import pandas as pd

    from financial_anomaly_detection_spark.operators.partitioning import (
        sorted_group_map,
    )

    rows = [("knull_%d" % g, g * 10 + j) for g in range(8) for j in range(2)]
    rows += [(None, 900 + j) for j in range(5)]  # null-keyed group
    rows += [("kbig", 100 + j) for j in range(10)]  # spans 4 batches of 3
    df = spark.createDataFrame(rows, "k string, v long")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        vs = sorted(int(x) for x in pdf["v"])
        return pd.DataFrame(
            {
                "k": [pdf["k"].iloc[0]],
                "n": [len(vs)],
                "vsum": [sum(vs)],
                "vmin": [vs[0]],
            }
        )

    schema = "k string, n long, vsum long, vmin long"
    expect = {
        tuple(r) for r in df.groupBy("k").applyInPandas(fn, schema).collect()
    }
    assert (None, 5, 4510, 900) in expect  # applyInPandas DOES keep null keys
    assert ("kbig", 10, 1045, 100) in expect
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = {tuple(r) for r in sorted_group_map(df, ["k"], fn, schema).collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got == expect


def test_worker_pids_reads_live_pool_without_jobs(spark):
    """bench.worker_pids (the pool_turnover telemetry primitive) must
    (a) see the workers a python stage leaves idle-pooled, (b) run NO
    Spark job itself (observer effect would warm the pool it measures),
    and (c) report a stable set across back-to-back reads."""
    import pandas as pd

    from bench import worker_pids

    def k(batches):
        for pdf in batches:
            yield pdf

    (
        spark.range(10_000)
        .repartition(4)
        .mapInPandas(k, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    before_jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    a = worker_pids()
    b = worker_pids()
    after_jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    assert a, "expected a non-empty idle worker pool after a python stage"
    assert a == b
    assert after_jobs == before_jobs, "worker_pids must not run Spark jobs"
