"""Iterative graph operators (SURVEY.md §2.10 pipeline extensions).

The reference ships no graph code; these are the distributed-shape
implementations of the standard algorithms a curation pipeline leans
on (duplicate-cluster canonicalization, entity resolution, link
analysis). PageRank / triangles / BFS live in queries.py as composed
plans; connected components earns an operator because it is the one
with a CONVERGENCE loop whose scale discipline (checkpointed lineage,
monotone state, bounded iterations) other iterative ops copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Rounds-to-fixpoint of the most recent convergence-loop call, keyed by
# function name — drill/observability metadata only (the graph tests
# read it); never read by query logic. PROBE-
# granular: loops that probe every ``check_every`` rounds record the
# round at which the fixpoint PROBE fired, which rounds the true
# convergence round UP to the next check_every multiple (overstating
# by at most check_every - 1). Exact only when check_every == 1.
LAST_RUN_STATS: dict[str, int] = {}


def _free_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind a ``localCheckpoint``ed
    DataFrame immediately.

    The blocks are otherwise reclaimed only when the JVM Dataset is
    garbage-collected, and py4j holds that reference until Python GC
    runs — far too lazy for a convergence loop that supersedes a
    generation per round (measured: 8 GB JVM exhausted at the x10
    graph drill). The checkpointed Dataset's analyzed plan is a
    LogicalRDD whose ``rdd`` accessor reaches the persisted RDD; pass
    the CHECKPOINTED handle itself — on any other plan shape this is
    a silent no-op, never an error.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    out_vertex: str = "node",
    out_col: str = "component",
    max_iter: int = 25,
    check_every: int = 1,
) -> DataFrame:
    """Connected components by min-label propagation to a fixpoint.

    ``edges`` is an UNDIRECTED edge list given in either or both
    directions (symmetrized internally). Every vertex ends with
    ``out_col`` = the minimum vertex id reachable from it — the
    canonical component representative (the same contract as the
    recursive-CTE oracle and GraphX/GraphFrames' connectedComponents).

    Shape per iteration: ONE equi-join of the (symmetrized, pinned)
    edge list against the current labels on the source endpoint, then
    a (vertex)-keyed min-aggregation folding the propagated labels
    into the previous ones. Both shuffles key on vertex id —
    high-cardinality and AQE-splittable at 100 TB. Labels are
    monotonically non-increasing, so iteration converges in at most
    O(diameter) rounds.

    ROUTING (measured, SCALING.md §round-8):
    rounds here are EXACTLY the graph diameter (path fixtures: 64 /
    256 / 1024 recorded rounds at diameters 63 / 255 / 1023; the
    63-diameter count is exact [check_every=1], the larger two are
    probe-granular — the drill probes every 16 rounds, so the true
    convergence round may be up to 15 lower; see LAST_RUN_STATS —
    which leaves the linear-in-diameter conclusion unchanged), while
    :func:`connected_components_twophase` (Kiveris 2014 large-star/
    small-star) stays flat at 7-11 rounds across that whole range —
    its per-round cost is ~3-4x (two shuffles + an exact exceptAll
    probe, edge-set-sized state), so label-prop wins only while
    rounds stay small. Use THIS function when the expected diameter
    is ≲ ~30 (co-occurrence / similarity / entity-match graphs — the
    pipeline's native shapes, all <10 measured); route chains,
    meshes, road-network-like or UNKNOWN-diameter graphs to
    two-phase. A robust unknown-diameter pattern: run this with
    ``max_iter≈32`` and fall back to two-phase on the convergence
    ValueError — the wasted rounds are bounded and cheap.

    Two failure modes shape the loop's memory discipline, both
    measured here:

    * ``persist`` alone is NOT a lineage cap — each generation's
      LOGICAL plan references its parent twice (once in the union,
      once through the messages join), so plan size doubles per round
      and analysis OOMs after ~17 rounds even on a toy graph. Only
      ``localCheckpoint`` (a LogicalRDD leaf) keeps plan size
      constant — the repo-wide iterative discipline.
    * localCheckpoint blocks are only reclaimed when the JVM Dataset
      is garbage-collected, which via py4j is far too lazy for a
      convergence loop: at the x10 drill scale (24M edges) the
      accumulated superseded generations exhausted an 8 GB JVM when a
      later broadcast tried to build. Each superseded generation's
      checkpoint RDD is therefore unpersisted EXPLICITLY through its
      analyzed-plan handle (``_free_checkpoint``).

    Every ``check_every`` rounds ONE limit(1) count probes the
    fixpoint (at very large scale set ``check_every`` > 1 to trade
    wasted rounds for fewer probe actions). Raises after ``max_iter``
    rounds without convergence rather than returning
    silently-unfinished labels.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sym = e.unionAll(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct().localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("_s").alias("_v"))
        .distinct()
        .withColumn("_lbl", F.col("_v"))
        .localCheckpoint(eager=True)
    )
    # The generation's CHECKPOINTED handle, tracked separately from the
    # (projected) labels view: _free_checkpoint only reaches the
    # persisted RDD through a bare LogicalRDD plan, so freeing the
    # Project-over-LogicalRDD `labels` was a silent no-op (r12 fix —
    # superseded generations now actually release their blocks).
    ckpt = labels
    try:
        for it in range(max_iter):
            # shuffle_hash, never broadcast: the label table scales
            # with VERTICES, so broadcasting it is wrong at cluster
            # scale — and locally the per-round broadcast builds were
            # what exhausted the driver heap at the x10 drill (the
            # checkpoint storage left no room to build). A vertex-
            # keyed shuffle join has a flat memory profile at every
            # scale.
            msgs = sym.join(
                labels.hint("shuffle_hash"), sym["_s"] == labels["_v"]
            ).select(F.col("_d").alias("_v"), F.col("_lbl"))
            # The previous label rides through the fold as `_old` (min
            # over the single tagged labels row per vertex — every
            # vertex has exactly one, so never null): the convergence
            # probe is then a filter over the FRESH generation's pinned
            # blocks instead of a join of two label generations
            # (r12 — one boolean column through the shuffle buys back a
            # per-probe join).
            new = (
                labels.select("_v", "_lbl", F.lit(True).alias("_own"))
                .unionAll(msgs.select("_v", "_lbl", F.lit(False).alias("_own")))
                .groupBy("_v")
                .agg(
                    F.min("_lbl").alias("_new"),
                    F.min(F.when(F.col("_own"), F.col("_lbl"))).alias("_old"),
                )
                .localCheckpoint(eager=True)
            )
            if (it + 1) % check_every == 0 or it == max_iter - 1:
                changed = (
                    new.filter(F.col("_new") < F.col("_old")).limit(1).count()
                )
            else:
                changed = 1
            _free_checkpoint(ckpt)  # retire the superseded generation
            ckpt = new
            labels = new.select("_v", F.col("_new").alias("_lbl"))
            if changed == 0:
                LAST_RUN_STATS["connected_components"] = it + 1
                return labels.select(
                    F.col("_v").alias(out_vertex), F.col("_lbl").alias(out_col)
                )
        _free_checkpoint(new)
        raise ValueError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    finally:
        _free_checkpoint(sym)


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "s",
    dst: str = "d",
    out_vertex: str = "node",
    out_col: str = "core_degree",
    max_rounds: int = 50,
) -> DataFrame:
    """k-core membership by iterative peeling (Seidman 1983, "Network
    structure and minimum degree"): repeatedly delete vertices whose
    degree in the REMAINING graph is below ``k`` until none qualify;
    return the surviving vertices with their within-core degree. The
    graph-curation filter under spam-cluster mining and dense-region
    extraction (a vertex's core number is also a cheap robustness
    signal for entity-match graphs).

    ``edges`` is an undirected edge list in either or both directions
    (canonically ORIENTED internally — one ``_a < _b`` row per
    undirected edge, self-loops dropped; r13, was symmetrized): every
    per-round shuffle and checkpoint carries HALF the rows of the
    symmetric form, and the degree aggregation reads both endpoints of
    the single row instead of one endpoint of two rows — same degree
    values, same peel, half the bytes (guide §2.3). Per round: one
    vertex-keyed degree agg + two semi-joins reattaching the edge set
    to the survivors — all shuffles key on vertex id. Edge sets only
    SHRINK, so a round-over-round edge-count equality is an exact
    fixpoint test (no exceptAll probe needed); the count that probes
    it ALSO materializes the round's lazy ``localCheckpoint`` (r13 —
    one action per round, was checkpoint-job + count-job; a full-scan
    count computes every partition, so the lazy checkpoint persists
    completely as its side effect). Rounds = the peel depth, bounded
    by the degeneracy ordering's cascade length — small on dense
    co-occurrence graphs, O(n) only on adversarial chains (same
    routing logic as :func:`connected_components`; at pathological
    depths, switch to bucketed semi-peeling or accept the rounds).
    Same two memory disciplines as the other convergence loops:
    localCheckpoint lineage caps + explicit generation freeing.
    """
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
    )
    cur = (
        e.select(
            F.least("_s", "_d").alias("_a"), F.greatest("_s", "_d").alias("_b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    first = cur
    n_cur = cur.count()  # materializes the lazy checkpoint

    def _deg(frame: DataFrame, out: str) -> DataFrame:
        return (
            frame.select(F.col("_a").alias("_v"))
            .unionAll(frame.select(F.col("_b").alias("_v")))
            .groupBy("_v")
            .agg(F.count(F.lit(1)).alias(out))
        )

    try:
        for rnd in range(max_rounds):
            keep = _deg(cur, "_deg").filter(F.col("_deg") >= k).select("_v")
            nxt = (
                cur.join(
                    keep.withColumnRenamed("_v", "_a").hint("shuffle_hash"),
                    "_a",
                    "left_semi",
                )
                .join(
                    keep.withColumnRenamed("_v", "_b").hint("shuffle_hash"),
                    "_b",
                    "left_semi",
                )
                .localCheckpoint(eager=False)
            )
            n_nxt = nxt.count()  # fixpoint probe + checkpoint materialization
            if cur is not first:
                _free_checkpoint(cur)
            cur, n_prev = nxt, n_cur
            n_cur = n_nxt
            if n_nxt == n_prev:
                LAST_RUN_STATS["k_core"] = rnd + 1
                return _deg(cur, out_col).select(
                    F.col("_v").alias(out_vertex), F.col(out_col)
                )
        raise ValueError(f"k_core did not converge in {max_rounds} rounds")
    finally:
        _free_checkpoint(first)


def connected_components_twophase(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    out_vertex: str = "node",
    out_col: str = "component",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond", the Two-Phase algorithm) — the
    O(log^2 n)-round upgrade over min-label propagation's O(diameter)
    for pathological-diameter graphs (long chains, meshes). Same
    contract as :func:`connected_components`: every vertex labeled
    with its component's minimum vertex id.

    Per round, TWO vertex-keyed shuffles over the current edge set:

    * large-star — group the symmetric edge list by center u, compute
      m(u) = min(N(u) + {u}) (one min-agg + one join-back, never a
      collected neighborhood), reattach every STRICTLY LARGER
      neighbor to m(u);
    * small-star — orient each edge toward its larger endpoint, group
      by that endpoint, reattach it and all its smaller neighbors to
      the minimum.

    Both steps strictly shrink a potential function, and the fixpoint
    is a forest of stars (every edge (v, root)). Fixpoint detection is
    EXACT and two-tier (r12): each generation's (count, xxhash64 xor)
    is computed in ONE scan of the fresh checkpoint blocks and
    compared to the previous generation's remembered pair — only when
    BOTH match does the exact count + one-sided exceptAll probe run to
    confirm (a hash collision merely costs one wasted probe, never a
    wrong fixpoint). Non-converged rounds therefore pay zero probe
    shuffles and no recount of the previous generation — and since
    r13 the stats aggregate is ALSO what materializes the round's
    lazy ``localCheckpoint`` (a full-scan agg computes every
    partition, persisting the checkpoint as a side effect): one
    action per round, was checkpoint-job + stats-job. Edge sets are
    localCheckpointed per round with superseded generations freed —
    the same two memory disciplines as the label-prop loop.
    """

    def _stats(df: DataFrame) -> tuple:
        # bit_xor, not sum: ANSI mode (Spark 4 default) raises on long
        # sum overflow; xor is overflow-free and order-insensitive.
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("_a", "_b")).alias("h"),
        ).head()
        return r["n"], r["h"]

    e0 = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        # lazy: the _stats(e0) full-scan agg below materializes it
        .localCheckpoint(eager=False)
    )
    verts = (
        e0.select(F.col("_a").alias("_v"))
        .unionAll(e0.select(F.col("_b").alias("_v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = e0
    cur_stats = _stats(e0)
    try:
        for rnd in range(max_rounds):
            # large-star on the symmetric view
            sym = cur.select(F.col("_a").alias("_u"), F.col("_b").alias("_w")).unionAll(
                cur.select(F.col("_b").alias("_u"), F.col("_a").alias("_w"))
            )
            m = sym.groupBy("_u").agg(
                F.least(F.min("_w"), F.first("_u")).alias("_m")
            )
            large = (
                sym.join(m.hint("shuffle_hash"), "_u")
                .filter(F.col("_w") > F.col("_u"))
                .select(F.col("_w").alias("_a"), F.col("_m").alias("_b"))
                .filter(F.col("_a") != F.col("_b"))
                .distinct()
            )
            # small-star on the larger-endpoint orientation
            oriented = large.select(
                F.greatest("_a", "_b").alias("_u"), F.least("_a", "_b").alias("_w")
            )
            m2 = oriented.groupBy("_u").agg(F.min("_w").alias("_m"))
            attached = oriented.join(m2.hint("shuffle_hash"), "_u")
            nxt = (
                attached.select(F.col("_w").alias("_a"), F.col("_m").alias("_b"))
                .unionAll(
                    attached.select(F.col("_u").alias("_a"), F.col("_m").alias("_b"))
                )
                .filter(F.col("_a") != F.col("_b"))
                .distinct()
                # lazy: the stats scan below materializes it (1 action)
                .localCheckpoint(eager=False)
            )
            nxt_stats = _stats(nxt)
            same = nxt_stats == cur_stats and (
                nxt.exceptAll(cur).limit(1).count() == 0
            )
            if cur is not e0:
                _free_checkpoint(cur)
            cur, cur_stats = nxt, nxt_stats
            if same:
                LAST_RUN_STATS["connected_components_twophase"] = rnd + 1
                roots = cur.select(
                    F.col("_a").alias("_v"), F.col("_b").alias("_lbl")
                )
                return (
                    verts.join(roots, "_v", "left")
                    .select(
                        F.col("_v").alias(out_vertex),
                        F.coalesce("_lbl", F.col("_v")).alias(out_col),
                    )
                )
        raise ValueError(
            f"connected_components_twophase did not converge in "
            f"{max_rounds} rounds"
        )
    finally:
        _free_checkpoint(e0)


def connected_components_auto(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    out_vertex: str = "node",
    out_col: str = "component",
    label_prop_max_iter: int = 32,
    check_every: int = 1,
    twophase_max_rounds: int = 30,
) -> DataFrame:
    """Diameter-adaptive connected components — the measured routing
    note (SCALING.md §round-8) turned into
    code (VERDICT r8 task 6).

    Strategy for UNKNOWN-diameter graphs: run cheap min-label
    propagation bounded at ``label_prop_max_iter`` rounds (the drill's
    crossover sits at diameter ~30-50, so 32 covers every graph where
    label-prop wins); if it raises the convergence ValueError, the
    diameter is pathological and the alternating-star contraction
    (:func:`connected_components_twophase`, flat 7-11 rounds at any
    measured diameter) finishes the job. The wasted label-prop rounds
    are bounded and each is ~3-4x cheaper than a two-phase round, so
    the insurance premium on a high-diameter graph is at most ~one
    extra two-phase-equivalent pass — while low-diameter graphs (the
    pipeline's native co-occurrence/similarity/entity-match shapes,
    all <10 measured) never pay two-phase's per-round cost at all.

    Both branches share the same contract (every vertex labeled with
    its component's minimum vertex id) and the same memory discipline.
    ``LAST_RUN_STATS['connected_components_auto_fallback']`` records
    whether the fallback fired (1) or label-prop converged (0).
    """
    try:
        out = connected_components(
            edges, src=src, dst=dst, out_vertex=out_vertex, out_col=out_col,
            max_iter=label_prop_max_iter, check_every=check_every,
        )
        LAST_RUN_STATS["connected_components_auto_fallback"] = 0
        return out
    except ValueError:
        LAST_RUN_STATS["connected_components_auto_fallback"] = 1
        return connected_components_twophase(
            edges, src=src, dst=dst, out_vertex=out_vertex, out_col=out_col,
            max_rounds=twophase_max_rounds,
        )
