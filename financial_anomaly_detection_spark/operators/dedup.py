"""Deduplication operators (north-star extension, SURVEY.md §2.10).

Three tiers, from exact to fuzzy, all shaped for 100 TB:

  * ``ngram_jaccard_pairs`` — exact near-dup pairs via shingle
    explode + self-join; the *oracle-checkable* ground truth the
    approximate tiers are validated against. Quadratic in the worst
    case — use on samples / as the verification tier.
  * ``minhash_near_dup_pairs`` — MinHash LSH (MLlib ``MinHashLSH`` over
    a ``HashingTF`` shingle vector): candidate pairs come from LSH
    band buckets, so the join is bucket-local; linear-ish at scale.
  * ``simhash_signatures`` — 64-bit SimHash (Charikar 2002) computed
    entirely JVM-side with xxhash64 + bit arithmetic; near-dups are
    signatures within small Hamming distance.
"""

from __future__ import annotations

from pyspark.ml.feature import HashingTF, MinHashLSH
from pyspark.sql import DataFrame, Window, functions as F


from .partitioning import spread_narrow


def tokens_col(text_col: str = "text"):
    return F.split(F.trim(F.col(text_col)), r"\s+")


def shingles_col(text_col: str = "text", n: int = 3):
    """Word n-gram shingles as a distinct array (set semantics for
    Jaccard). Built with JVM higher-order functions — no UDF.

    The gram array is built by zip_with-ing n shifted slices of the
    token array element-wise, NOT by slicing inside a ``transform``
    lambda over gram indices: lambda bodies are evaluated interpreted,
    per element, with no common-subexpression elimination, so
    referencing the split() there re-tokenizes the document once per
    gram — O(len^2) per doc (measured 2x on the sf0.1 shingle explode
    even before the inferred-filter double evaluation). Each zip_with
    argument is evaluated once: O(n * len)."""
    toks = tokens_col(text_col)
    k = F.size(toks) - F.lit(n - 1)
    # grams[i] = toks[i] + " " + ... + toks[i + n - 1]; positions past
    # k hit zip_with's null padding (concat propagates null) and are
    # sliced away.
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    grams = F.slice(grams, 1, F.greatest(k, F.lit(0)))
    # documents shorter than n words: fall back to the whole text
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array(F.trim(F.col(text_col)))
    )


def duplicate_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate chunk detection (exact-substring dedup
    at word-n-gram granularity, Lee et al. 2021 "Deduplicating Training
    Data Makes Language Models Better" — the suffix-array pass's
    distributed analog). Returns (chunk, n_docs) for every n-gram that
    appears in >= ``min_docs`` distinct documents.

    Scale shape: explode distinct shingles per doc -> groupBy chunk ->
    countDistinct doc. The shuffle key is the shingle; at 100 TB group
    by ``xxhash64(chunk)`` instead of the raw string (64-bit keys, no
    text movement) and join back only the surviving hashes to recover
    chunk text.
    """
    sh = spread_narrow(df).select(
        F.col(id_col).alias("_id"), F.explode(shingles_col(text_col, n)).alias("chunk")
    )
    return (
        sh.groupBy("chunk")
        .agg(F.countDistinct("_id").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def jaccard_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing >= 1 shingle, optionally
    dropping "hot" shingles whose document frequency exceeds
    ``max_shingle_df`` before the self-join.

    The cap is the at-scale guard for the exact tier (SCALING.md): a
    shingle in d documents contributes d*(d-1)/2 candidate pairs, so
    one boilerplate phrase in a million docs alone produces ~5e11
    pairs. A shingle that common carries no Jaccard discrimination —
    any pair it links either shares rarer shingles too (still found)
    or has near-zero similarity. With the cap the join's fan-out is
    bounded by max_shingle_df**2 per shingle group.
    """
    sh = spread_narrow(df).select(
        F.col(id_col).alias("_id"), F.explode(shingles_col(text_col, n)).alias("_sh")
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_sh")
        )
        sh = sh.join(hot, "_sh", "left_anti")
    return (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    broadcast_sizes: bool = True,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets for every
    candidate pair sharing >= 1 shingle. Returns (id_a, id_b, jaccard)
    with id_a < id_b. The shuffle key is the shingle, so co-occurrence
    counting is distributed; the final divide uses per-doc set sizes.

    This is the sample-scale verification tier (the scale tiers are
    MinHash/SimHash). The per-doc sizes table is broadcast by default —
    one row per document, so at web-corpus cardinality pass
    ``broadcast_sizes=False`` to shuffle-join it instead.

    ``max_shingle_df`` enables the hot-shingle cap: candidates come
    only from shingles with document frequency <= cap (bounding the
    self-join fan-out — see ``jaccard_candidates``), but the Jaccard
    value for every surviving pair is still EXACT, recomputed from the
    full shingle sets via ``array_intersect``. Results are identical
    to the uncapped tier for every pair sharing at least one sub-cap
    shingle; pairs linked ONLY by boilerplate hotter than the cap are
    the (intended) pruning.

    Pin lifecycle (uncapped tier): the post-explode shingle frame is an
    eager ``localCheckpoint`` that backs the RETURNED lazy plan, so it
    outlives this call and cannot be freed here. ``bench.py`` releases
    it between queries (``release_pins``); any other caller must
    unpersist it once the result is consumed (drop the session's
    persistent RDDs), or the shingle-sized pins accumulate in
    block-manager storage.
    """
    if max_shingle_df is not None:
        cand = jaccard_candidates(df, id_col, text_col, n, max_shingle_df)
        arrs = df.select(
            F.col(id_col).alias("_id"), shingles_col(text_col, n).alias("_arr")
        )
        return (
            cand.join(
                arrs.select(F.col("_id").alias("id_a"), F.col("_arr").alias("_aa")),
                "id_a",
            )
            .join(
                arrs.select(F.col("_id").alias("id_b"), F.col("_arr").alias("_ab")),
                "id_b",
            )
            .withColumn("_common", F.size(F.array_intersect("_aa", "_ab")))
            .select(
                "id_a",
                "id_b",
                (
                    F.col("_common")
                    / (F.size("_aa") + F.size("_ab") - F.col("_common"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    # One pinned explode (r13): `sh` has three consumers — the sizes
    # aggregate and both sides of the shingle self-join — so the
    # shingle construction (the dominant per-row expression) ran once
    # per consumer unpinned. Built over the shared _shingle_arrays
    # builder so the 2-col scan pruning stays machine-checked on the
    # pre-checkpoint plan (tests/test_plan_guards.py).
    sh = (
        _shingle_arrays(df, id_col, text_col, n)
        .select("_id", F.explode("_arr").alias("_sh"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    if broadcast_sizes:
        sizes = F.broadcast(sizes)
    common = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    return (
        common.join(sizes.alias("sa"), F.col("id_a") == F.col("sa._id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb._id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("_common")
                / (F.col("sa._sz") + F.col("sb._sz") - F.col("_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(_id, _arr) shingle-array frame — the pre-checkpoint builder of
    prefix_filter_jaccard_pairs, split out so the 2-col scan pruning
    stays testable once the caller pins it (the decontam pattern)."""
    return spread_narrow(df).select(
        F.col(id_col).alias("_id"), shingles_col(text_col, n).alias("_arr")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact threshold-Jaccard join via PREFIX FILTERING (Chaudhuri
    2006; Xiao 2008 PPJoin's candidate bound) — same OUTPUT as
    :func:`ngram_jaccard_pairs` at the same threshold, provably, but
    candidates come only from each document's prefix of its
    ``|d| - ceil(t*|d|) + 1`` globally RAREST shingles: if
    J(x, y) >= t the pigeonhole principle forces the prefixes (under
    any shared total order) to intersect, so pruning the self-join to
    prefix shingles loses nothing while cutting candidate fan-out by
    ~t/(1+t) of each doc's shingles — and because the prefix keeps the
    LOWEST-document-frequency shingles, the surviving join keys are
    precisely the cold ones. This is the scale form of the hot-shingle
    cap (max_shingle_df): same fan-out control, zero recall loss.

    The global shingle order is (document frequency ASC, shingle ASC)
    — deterministic, built from one df-count aggregation; the per-doc
    ranking window partitions by document (high-cardinality parallel).
    Verification recomputes exact Jaccard from the full shingle sets
    (array_intersect), as in the capped tier.

    The shingle-array frame is pinned (r13): it has THREE independent
    consumers — the prefix explode and both verification re-attach
    sides — and the shingle construction (zip_with over the token
    split) is the dominant per-row expression; unpinned it ran once
    per consumer. Same localCheckpoint discipline as the decontam
    gram pin; pruning of the pre-checkpoint builder stays machine-
    checked in tests/test_plan_guards.py.
    """
    arrs = _shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=True)
    # one explode feeds df-counts, sizes, and the ranked prefix
    sh = arrs.select("_id", F.size("_arr").alias("_sz"), F.explode("_arr").alias("_sh"))
    docfreq = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_sh"))
    prefix = (
        sh.join(docfreq, "_sh")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1)
        .select("_id", "_sh")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(
            arrs.select(F.col("_id").alias("id_a"), F.col("_arr").alias("_aa")), "id_a"
        )
        .join(
            arrs.select(F.col("_id").alias("id_b"), F.col("_arr").alias("_ab")), "id_b"
        )
        .withColumn("_common", F.size(F.array_intersect("_aa", "_ab")))
        .select(
            "id_a",
            "id_b",
            (
                F.col("_common")
                / (F.size("_aa") + F.size("_ab") - F.col("_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    max_jaccard_distance: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash LSH near-dup candidates (§2.10 tier 3, the scale path):
    shingles -> HashingTF binary vector -> MinHashLSH approxSimilarityJoin.
    Returns (id_a, id_b, jaccard_distance estimate from MLlib).
    """
    base = spread_narrow(df).select(
        F.col(id_col).alias("_id"), shingles_col(text_col, n).alias("_sh")
    )
    tf = HashingTF(inputCol="_sh", outputCol="_vec", numFeatures=num_features, binary=True)
    vecs = tf.transform(base)
    mh = MinHashLSH(inputCol="_vec", outputCol="_hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(vecs)
    # Pre-hash ONCE and pin: approxSimilarityJoin reuses an existing
    # output column, so shingling + HashingTF + the minhash functions
    # run one pass instead of once per join side.
    hashed = model.transform(vecs).localCheckpoint(eager=True)
    joined = model.approxSimilarityJoin(hashed, hashed, max_jaccard_distance, distCol="jaccard_distance")
    return (
        joined.filter(F.col("datasetA._id") < F.col("datasetB._id"))
        .select(
            F.col("datasetA._id").alias("id_a"),
            F.col("datasetB._id").alias("id_b"),
            "jaccard_distance",
        )
    )


def near_dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list (§2.10 "connected-
    components light"): iterative min-label propagation — each node
    repeatedly adopts the smallest label among itself and its
    neighbors until a fixed point. Converges in O(cluster diameter)
    rounds; near-dup clusters are shallow (diameter ≪ 20), and each
    round is one join + one aggregation.

    ``pairs`` needs columns (id_a, id_b); returns (doc_id, cluster_id)
    for every node that appears in a pair, cluster_id = min member id.
    """
    # Materialize the edge list ONCE: ``pairs`` is typically an LSH
    # candidate join (MinHash/SimHash) — without this every propagation
    # round (and the convergence probe) would recompute that join from
    # scratch. The edge list is the bounded near-dup pair set, far
    # smaller than the corpus.
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # Checkpointed generation handle for _free_checkpoint (which is a
    # no-op on any plan that is not a bare LogicalRDD leaf — the
    # initial, never-checkpointed labels included).
    ckpt = None
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # The did-it-change bit is computed inline where both the old
        # and the new label are in hand, so the convergence probe scans
        # the fresh generation's pinned blocks instead of joining two
        # label generations (r12).
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                    "_chg"
                ),
            )
        ).localCheckpoint(eager=True)  # cut the lineage per round
        changed = new_labels.filter("_chg").limit(1).count()
        # retire the superseded generation's checkpoint blocks (py4j GC
        # is too lazy for convergence loops — see operators/graph.py's
        # measured x10-drill failure)
        from .graph import _free_checkpoint

        if ckpt is not None:
            _free_checkpoint(ckpt)
        ckpt = new_labels
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """64-bit SimHash per document (§2.10 tier 4), entirely JVM-side:
    xxhash64 over n-gram shingles (shingle features discriminate far
    better than unigrams on small vocabularies), per-bit majority vote
    folded into one BIGINT. Returns (id, simhash).

    Shape: explode the shingle hashes and run 64 conditional SUMs in
    ONE grouped aggregation (each ±1 vote is ``(bit*2 - 1)``), then
    fold the votes into the signature with plain column math. The sums
    combine map-side, so the doc-keyed shuffle moves 64 longs per doc.
    (The previous form — 64 ``aggregate()`` higher-order lambdas over
    the hash array — built a codegen expression so large it fell out
    of compilation: 7.8 s → 1.5 s at sf0.1 for identical output.)
    """
    feats = shingles_col(text_col, n)
    ex = spread_narrow(df).select(
        F.col(id_col),
        F.explode(F.transform(feats, lambda t: F.xxhash64(t))).alias("_h"),
    )
    votes = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright("_h", b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"_v{b}")
            for b in range(64)
        ]
    )
    sig: "F.Column" = F.lit(0).cast("long")
    for b in range(64):
        bit = F.shiftleft(F.lit(1).cast("long"), b)
        sig = sig.bitwiseOR(
            F.when(F.col(f"_v{b}") > 0, bit).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dups by SimHash Hamming distance. Candidate generation
    blocks on 16-bit signature quarters (pigeonhole: any pair within
    Hamming distance 3 shares at least one of 4 quarters), so the
    self-join is block-local — no full cross join at scale."""
    # Pin the signatures: the 64 per-bit majority-vote aggregates are
    # the expensive expression, and the block self-join below would
    # evaluate them on BOTH sides. One row per doc — tiny.
    sigs = simhash_signatures(df, id_col, text_col).localCheckpoint(eager=True)
    quarters = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright("simhash", 16 * q)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("qv"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("_blk"),
    ).select(id_col, "simhash", F.col("_blk.q").alias("q"), F.col("_blk.qv").alias("qv"))
    a, b = quarters.alias("a"), quarters.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qv") == F.col("b.qv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # Filter BEFORE the pair-distinct (r13, the fuzzy-ed1 verify-
        # first pattern): hamming is a function of the pair, so the
        # two commute — but filtering first means the dedup shuffle
        # carries only true near-dups instead of every block-collision
        # candidate (quarters collide freely on short docs).
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def longest_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_span: int = 20,
    max_gram_df: int = 50,
) -> DataFrame:
    """Longest shared token span per document pair — the span-level
    refinement of :func:`duplicate_chunks` (Lee et al. 2021's
    suffix-array substring dedup, re-expressed relationally).

    A run of ``k`` consecutive shared ``n``-grams on one alignment
    diagonal (pos_a - pos_b constant) is a shared span of ``k + n - 1``
    tokens, so the suffix-array scan becomes: positional n-gram
    explode -> md5-keyed equi-join (the shuffle key is a 32-char
    digest, never text) -> gaps-and-islands run-length per
    (pair, diagonal) -> max. Grams in more than ``max_gram_df`` docs
    are dropped first (boilerplate carries no alignment information;
    same DF-cap guard as jaccard_candidates, bounding join fan-out by
    ``max_gram_df**2`` per gram).

    Returns (doc_a, doc_b, max_span_tokens, n_shared_grams) for pairs
    whose longest shared span reaches ``min_span`` tokens.
    """
    toks = tokens_col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.struct(
            i.alias("pos"), F.md5(F.concat_ws(" ", F.slice(toks, i, n))).alias("key")
        ),
    )
    e = (
        spread_narrow(df)
        .filter(F.size(toks) >= n)
        .select(F.col(id_col).alias("_id"), F.explode(grams).alias("g"))
        .select("_id", F.col("g.pos").alias("pos"), F.col("g.key").alias("key"))
    )
    hot = (
        e.groupBy("key")
        .agg(F.countDistinct("_id").alias("_df"))
        .filter(F.col("_df") > max_gram_df)
        .select("key")
    )
    e = e.join(F.broadcast(hot), "key", "left_anti")
    pairs = (
        e.alias("x")
        .join(e.alias("y"), "key")
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("doc_a"),
            F.col("y._id").alias("doc_b"),
            F.col("x.pos").alias("pa"),
            (F.col("x.pos") - F.col("y.pos")).alias("diag"),
        )
        # no distinct needed: (pa, diag) fixes (x.pos, y.pos), and a
        # doc holds exactly one gram per position — rows are unique
    )
    wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        pairs.withColumn("_grp", F.col("pa") - F.row_number().over(wd))
        .groupBy("doc_a", "doc_b", "diag", "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("_run") + F.lit(n - 1)).cast("long").alias("max_span_tokens"),
            F.sum("_run").cast("long").alias("n_shared_grams"),
        )
        .filter(F.col("max_span_tokens") >= min_span)
    )


def _exploded_grams(df, bench_pred, id_col: str, text_col: str, n: int):
    """The decontamination operator's positional-gram explode, PRE
    checkpoint: (_id, _is_bench, pos, key). Exposed separately so plan
    guards can assert the 2-col documents pruning on the stage that
    actually scans parquet — the eager ``localCheckpoint`` in
    :func:`cross_set_shared_spans` hides the scan behind a LogicalRDD
    leaf in the final plan, which would otherwise leave the pruning
    unguarded (round-12 advisory)."""
    toks = tokens_col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.struct(
            i.alias("pos"), F.md5(F.concat_ws(" ", F.slice(toks, i, n))).alias("key")
        ),
    )
    return (
        spread_narrow(df)
        .filter(F.size(toks) >= n)
        .select(
            F.col(id_col).alias("_id"),
            bench_pred.alias("_is_bench"),
            F.explode(grams).alias("g"),
        )
        .select(
            "_id",
            "_is_bench",
            F.col("g.pos").alias("pos"),
            F.col("g.key").alias("key"),
        )
    )


def cross_set_shared_spans(
    df: DataFrame,
    bench_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_span: int = 12,
    max_gram_df: int = 50,
    winnow_w: int = 4,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Exact-substring decontamination (Lee et al. 2022 §4.1, the
    suffix-array "exact substring" check re-expressed relationally):
    the longest shared token span between each TRAINING document and
    each BENCHMARK document (``bench_pred`` selects the benchmark
    side), for pairs whose span reaches ``min_span`` tokens.

    Same alignment core as :func:`longest_duplicate_spans` (positional
    n-gram md5 join -> diagonal gaps-and-islands run length), with two
    cross-set twists:

    * the join is train-side x bench-side only — never train x train —
      so the candidate space is |train| x |bench|-bounded, and at
      100 TB the benchmark side is tiny (a broadcastable gram set);
    * a WINNOWING prefilter (Schleimer, Wilkerson & Aiken 2003) gates
      the positional join: per document, the window-min of the 32-bit
      gram hashes over ``winnow_w`` consecutive positions; only
      (train, bench) pairs sharing a fingerprint VALUE proceed. The
      guarantee makes this LOSSLESS here: a shared span of s tokens
      contains s-n+1 >= winnow_w consecutive shared gram hashes as
      soon as s >= n + winnow_w - 1, and aligned windows with
      identical hash multisets select the identical minimum — so with
      min_span >= n + winnow_w - 1 every reported pair survives the
      prefilter, and a DuckDB oracle can skip it entirely. The
      fingerprint join touches ~1/winnow_w of the gram keys, which is
      the at-scale point.

    Grams in more than ``max_gram_df`` documents (across both sets)
    are dropped before alignment, exactly as in
    :func:`longest_duplicate_spans` — boilerplate has no alignment
    value and fans out quadratically.

    Returns (train_doc, bench_doc, max_span_tokens, n_shared_grams).
    """
    if min_span < n + winnow_w - 1:
        raise ValueError(
            f"min_span={min_span} < n + winnow_w - 1 = {n + winnow_w - 1}: "
            "the winnowing prefilter would no longer be lossless"
        )
    e = _exploded_grams(df, bench_pred, id_col, text_col, n)
    # Materialize the exploded gram frame ONCE: four consumers read it
    # (hot-gram DF agg, the winnow-fingerprint window, and both
    # alignment sides), and without a checkpoint Catalyst re-runs the
    # tokenize+explode+md5 scan for each — measured as the dominant
    # cost of this operator at sf0.1 (~9 shuffles, 14 s in-sweep).
    # The store-vs-recompute trade holds at scale too: the explode is
    # the CPU-heavy stage, the checkpoint is linear in corpus grams,
    # and every later stage reads a strict subset of it.
    e = e.localCheckpoint(eager=True)
    hot = (
        e.groupBy("key")
        .agg(F.countDistinct("_id").alias("_df"))
        .filter(F.col("_df") > max_gram_df)
        .select("key")
    )
    e = e.join(F.broadcast(hot), "key", "left_anti")

    # winnowing fingerprints: window-min of the 32-bit hash over
    # winnow_w consecutive positions, per doc — a bounded per-doc
    # window (partitioned by _id), then distinct values
    h32 = F.conv(F.substring("key", 1, 8), 16, 10).cast("long")
    wfp = (
        Window.partitionBy("_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, winnow_w - 1)
    )
    fps = (
        e.select("_id", "_is_bench", "pos", h32.alias("_h"))
        .withColumn("_fp", F.min("_h").over(wfp))
        .select("_id", "_is_bench", "_fp")
        .distinct()
    )
    # two consumers (train side, bench side of the candidate join):
    # materialize so the per-doc window shuffle runs once, not twice
    fps = fps.localCheckpoint(eager=True)
    # The benchmark side is structurally tiny (a FIXED eval set in
    # production; ~2% of docs in the test split) — broadcast its
    # fingerprints AND its grams so neither the candidate join nor the
    # alignment join shuffles the corpus-sized train side on a key.
    # ``broadcast_bench`` exists because "tiny" is the CALLER's claim,
    # not a property of the operator: the bench side scales with
    # bench_pred's selectivity times grams-per-doc, and a forced
    # broadcast of a non-tiny side collects corpus-scale gram rows to
    # the driver (OOM) where a shuffle join degrades gracefully. Pass
    # False for a fat bench predicate and let AQE pick the strategy.
    _bb = F.broadcast if broadcast_bench else (lambda d: d)
    cand = (
        fps.filter(~F.col("_is_bench"))
        .select(F.col("_id").alias("train_doc"), "_fp")
        .join(
            _bb(
                fps.filter(F.col("_is_bench")).select(
                    F.col("_id").alias("bench_doc"), "_fp"
                )
            ),
            "_fp",
        )
        .select("train_doc", "bench_doc")
        .distinct()
    )
    cand = cand.localCheckpoint(eager=True)  # 3 consumers, pair-bounded size

    et = e.filter(~F.col("_is_bench")).select(
        F.col("_id").alias("train_doc"), F.col("pos").alias("pa"), "key"
    )
    eb = e.filter(F.col("_is_bench")).select(
        F.col("_id").alias("bench_doc"), F.col("pos").alias("pb"), "key"
    )
    # restrict both gram sides to docs with >=1 candidate partner
    et = et.join(
        F.broadcast(cand.select("train_doc").distinct()), "train_doc", "left_semi"
    )
    eb = eb.join(
        F.broadcast(cand.select("bench_doc").distinct()), "bench_doc", "left_semi"
    )
    pairs = (
        et.join(_bb(eb), "key")
        .join(F.broadcast(cand), ["train_doc", "bench_doc"], "left_semi")
        .select("train_doc", "bench_doc", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wd = Window.partitionBy("train_doc", "bench_doc", "diag").orderBy("pa")
    runs = (
        pairs.withColumn("_grp", F.col("pa") - F.row_number().over(wd))
        .groupBy("train_doc", "bench_doc", "diag", "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.groupBy("train_doc", "bench_doc")
        .agg(
            (F.max("_run") + F.lit(n - 1)).cast("long").alias("max_span_tokens"),
            F.sum("_run").cast("long").alias("n_shared_grams"),
        )
        .filter(F.col("max_span_tokens") >= min_span)
    )
