"""connected_components operator (operators/graph.py)."""

from __future__ import annotations

import random

import pytest

from financial_anomaly_detection_spark.operators.graph import connected_components


def _union_find_truth(n_vertices, edges):
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min vertex id in component
    comp = {}
    for v in range(n_vertices):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for vs in comp.values() for v in vs}


def test_connected_components_matches_union_find(spark):
    rng = random.Random(7)
    n = 400
    # sparse random graph -> many components of varied sizes
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(300)})
    edges = [(a, b) for a, b in edges if a != b]
    truth = _union_find_truth(n, edges)
    df = spark.createDataFrame(edges, "s long, d long").repartition(8)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    # operator only labels vertices that appear in an edge
    touched = {v for e in edges for v in e}
    assert set(got) == touched
    assert all(got[v] == truth[v] for v in touched)
    # sanity: genuinely multiple components
    assert len(set(got.values())) > 5


def test_connected_components_path_graph_needs_diameter_rounds(spark):
    # a 12-vertex path has diameter 11: min-label needs ~11 rounds, so
    # a 3-round budget must raise rather than return unfinished labels
    edges = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(edges, "s long, d long")
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(df, max_iter=3)
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(12)}


def test_connected_components_check_every_skips_actions(spark):
    edges = [(0, 1), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "s long, d long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, check_every=3).collect()
    }
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 2}


def test_twophase_matches_label_prop_on_random_graphs(spark):
    from financial_anomaly_detection_spark.operators.graph import (
        connected_components_twophase,
    )

    rng = random.Random(13)
    n = 300
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(220)})
    edges = [(a, b) for a, b in edges if a != b]
    truth = _union_find_truth(n, edges)
    df = spark.createDataFrame(edges, "s long, d long").repartition(8)
    got = {
        r["node"]: r["component"]
        for r in connected_components_twophase(df).collect()
    }
    touched = {v for e in edges for v in e}
    assert set(got) == touched
    assert all(got[v] == truth[v] for v in touched)
    assert len(set(got.values())) > 3


def test_twophase_beats_label_prop_rounds_on_long_path(spark):
    from financial_anomaly_detection_spark.operators.graph import (
        connected_components_twophase,
    )

    # a 64-vertex path has diameter 63: label-prop needs ~63 rounds
    # (raises at a 12-round budget); the star-contraction doubling
    # finishes the same graph within that budget — the O(log n)
    # claim, machine-checked
    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "s long, d long")
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(df, max_iter=12)
    got = {
        r["node"]: r["component"]
        for r in connected_components_twophase(df, max_rounds=12).collect()
    }
    assert got == {i: 0 for i in range(64)}


def test_twophase_single_edge_and_singleton_free(spark):
    from financial_anomaly_detection_spark.operators.graph import (
        connected_components_twophase,
    )

    df = spark.createDataFrame([(5, 2), (9, 9)], "s long, d long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_twophase(df).collect()
    }
    # self-loop (9,9) is dropped; 9 never appears as a vertex
    assert got == {2: 2, 5: 2}


def test_k_core_peels_to_known_core(spark):
    from financial_anomaly_detection_spark.operators.graph import (
        LAST_RUN_STATS,
        k_core,
    )

    # K4 on {0,1,2,3} (every vertex degree 3) + a pendant chain
    # 3-4-5 + a triangle {6,7,8} hanging off 0 via edge (0,6).
    # 3-core = exactly the K4: the chain peels immediately; the
    # triangle's vertices have degree 2 (except 6 with 3, but after
    # 7/8 peel in cascade, 6 drops too).
    edges = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(3, 4), (4, 5)]
        + [(6, 7), (7, 8), (6, 8), (0, 6)]
    )
    df = spark.createDataFrame(edges, "s long, d long")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # the triangle+pendant cascade needs >1 peel round
    assert 2 <= LAST_RUN_STATS["k_core"] <= 6


def test_k_core_empty_core_converges(spark):
    from financial_anomaly_detection_spark.operators.graph import k_core

    # a path graph has no 3-core at all — must converge to EMPTY,
    # not raise (the sf0.1 repeat-co-purchase graph hits this)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "s long, d long"
    )
    assert k_core(df, k=3).count() == 0


def test_kcore_query_rounds_stay_inside_oracle_unroll(spark, sf_dir):
    """The kcore_repeat_copurchase oracle unrolls 20 peel rounds
    (each one MATERIALIZED — DuckDB's CTE inlining is 3^rounds
    otherwise). Measured depth is 9 at sf0.01; if regenerated
    testdata ever pushes the cascade past this margin, this trips
    BEFORE the driver sees an oracle that stopped short of the
    fixpoint."""
    from financial_anomaly_detection_spark.operators.graph import (
        LAST_RUN_STATS,
    )
    from financial_anomaly_detection_spark.queries import REGISTRY

    REGISTRY["kcore_repeat_copurchase"].fn(spark, sf_dir).count()
    assert LAST_RUN_STATS["k_core"] <= 14


def test_auto_cc_low_diameter_stays_on_label_prop(spark):
    from financial_anomaly_detection_spark.operators.graph import (
        LAST_RUN_STATS,
        connected_components_auto,
    )

    # a star (diameter 2) converges in a couple of label-prop rounds —
    # the auto router must NOT pay two-phase's per-round cost here
    edges = [(0, i) for i in range(1, 20)] + [(100, 101)]
    df = spark.createDataFrame(edges, "s long, d long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_auto(df).collect()
    }
    assert LAST_RUN_STATS["connected_components_auto_fallback"] == 0
    assert got == {**{i: 0 for i in range(20)}, 100: 100, 101: 100}


def test_auto_cc_pathological_diameter_falls_back(spark):
    from financial_anomaly_detection_spark.operators.graph import (
        LAST_RUN_STATS,
        connected_components_auto,
    )

    # the diameter-1023 path from the drill: label-prop burns its full
    # 32-round budget without converging, two-phase finishes flat —
    # total rounds <= 32 + ~11 (VERDICT r8 task 6's done-criterion)
    edges = [(i, i + 1) for i in range(1023)]
    df = spark.createDataFrame(edges, "s long, d long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_auto(df, check_every=8).collect()
    }
    assert LAST_RUN_STATS["connected_components_auto_fallback"] == 1
    assert LAST_RUN_STATS["connected_components_twophase"] <= 12
    assert got == {i: 0 for i in range(1024)}


# --- ED1 candidate-pair expansion skew guard (round 13) --------------------


def test_ed1_pair_expansion_streams_hot_variant_group(spark):
    """VERDICT r12 task 2 / ADVICE item 2: a hot deletion-variant group
    (here 10^3 names sharing ONE variant) must stream through the pair
    expansion with O(g) per-row state. The r12 form materialized the
    whole O(g^2) struct array in a single row before exploding — a
    straggler/OOM row at scale. Asserts (a) the plan is the two-
    pipelined-generate shape with no in-row pair comprehension, (b) the
    candidate pair set over the hot group is exactly all C(g,2) sorted
    pairs — the same set the old comprehension produced."""
    import string

    from financial_anomaly_detection_spark.queries.common import (
        _ed1_candidate_pairs,
    )

    base = "ABCDEFGHIJKLMNO"  # 15 distinct chars -> 16 insertion slots
    alphabet = string.ascii_lowercase + string.digits + string.punctuation
    names = []
    for pos in range(len(base) + 1):
        for c in alphabet:
            names.append(base[:pos] + c + base[pos:])
    names = sorted(set(names))[:1000]
    assert len(names) == 1000
    df = spark.createDataFrame([(n,) for n in names], "name string")

    cand = _ed1_candidate_pairs(df)
    plan = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # two pipelined generates after the group agg (posexplode + tail
    # explode), and no flatten-comprehension building pairs in-row
    assert "posexplode" in plan
    assert "flatten(" not in plan

    # every name deletes to `base`, so the hot group holds all 1000 and
    # the distinct candidate set is exactly the C(1000,2) sorted pairs
    assert cand.filter("name_a >= name_b").count() == 0
    assert cand.distinct().count() == 1000 * 999 // 2


def test_ed1_candidate_pairs_any_column_name(spark):
    """The deletion variants are built with the column API, so a name
    column that is not a bare SQL identifier works."""
    from financial_anomaly_detection_spark.queries.common import (
        _ed1_candidate_pairs,
    )

    names = ["anna", "ana", "bob", "bobb", "carl"]
    df = spark.createDataFrame([(n,) for n in names], "`full name` string")
    cand = _ed1_candidate_pairs(df, "full name").distinct().collect()
    assert {(r["name_a"], r["name_b"]) for r in cand} == {("ana", "anna"), ("bob", "bobb")}
