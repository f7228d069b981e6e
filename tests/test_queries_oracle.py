"""Differential test: every registered query vs its DuckDB oracle.

This is a local replica of the driver's correctness gate
(CORRECTNESS_r{N}.json): row count + schema + order-insensitive exact
values at the test scale factor.
"""

from __future__ import annotations

import pytest

from financial_anomaly_detection_spark.queries import REGISTRY
from tests.oracle_harness import (
    assert_canonicalizer_safe,
    compare,
    duck_connection,
)

ORACLE_QUERIES = [n for n, s in REGISTRY.items() if s.oracle is not None]
ROWS_ONLY_QUERIES = [n for n, s in REGISTRY.items() if s.oracle is None]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert_canonicalizer_safe(df, name)
    res = compare(df, duck, spec.oracle)
    assert res["rowcount_match"], f"{name}: rows {res['spark_rows']} != {res['oracle_rows']}"
    assert res["schema_match"], f"{name}: cols {res['spark_cols']} != {res['oracle_cols']}"
    assert res["values_match"], f"{name}: first diff {res['first_diff']}"
    # a 0-row agreement is vacuous evidence — every query must exercise
    # real rows at every scale factor (caught twice: anti-join, near-dup)
    assert res["spark_rows"] > 0, f"{name}: query returns no rows at this sf"
    # HUGEINT/DECIMAL oracle columns hash-mismatch in the driver even
    # when values agree (r4: mad_robust_outliers) — cast them in the SQL
    assert not res["type_flags"], f"{name}: oracle type artifact {res['type_flags']}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert len(df.columns) > 0
    # Driver contract: the driver collects the FULL result and pushes
    # it through a pandas sort_values canonicalizer. Run the same path
    # here so a query emitting array/map/struct cells fails locally
    # before it ever reaches a driver window (r7 defect class).
    rows = df.collect()
    assert len(rows) >= 0
    assert_canonicalizer_safe(df, name, rows=rows)


# --- short-document robustness -------------------------------------------
#
# The driver regenerates testdata between rounds; nothing guarantees
# every document keeps >=10 words. The n-gram queries must agree with
# their oracles down to 0-word texts (round-4 guard: F.sequence(0,
# size-5) DESCENDS for <5-word docs and slice(_, 0, _) throws).
SHORT_DOC_QUERIES = [
    "benchmark_contamination",
    "duplicate_chunks_across_docs",
    # round-5 document queries must also survive 0..6-word texts
    "ngram_diversity_by_source",
    "jaccard_pairs_prefix_filter",
    "contrastive_negative_pairs",
    # round-8: cross-entropy must agree down to 0-word texts (empty
    # split yields the '' token on both engines)
    "doc_lm_cross_entropy",
]


@pytest.fixture(scope="module")
def short_doc_dir(sf_dir, tmp_path_factory):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = str(tmp_path_factory.mktemp("shortdocs"))
    rows = [(i, ("w%d " % (i % 11)) * (i % 7), "en", "s") for i in range(200)]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
        }
    )
    pq.write_table(tbl, os.path.join(tmp, "documents.parquet"))
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(tmp, f"{t}.parquet"))
    return tmp


@pytest.mark.parametrize("name", SHORT_DOC_QUERIES)
def test_ngram_queries_survive_short_docs(spark, short_doc_dir, name):
    spec = REGISTRY[name]
    con = duck_connection(short_doc_dir)
    try:
        res = compare(spec.fn(spark, short_doc_dir), con, spec.oracle)
    finally:
        con.close()
    assert res["values_match"], f"{name}: first diff {res['first_diff']}"
    assert res["spark_rows"] > 0


def test_drift_queries_survive_single_window_data(spark, tmp_path):
    """If regenerated testdata ever lands entirely inside one drift
    window, the KS / Mann-Whitney effect sizes must degrade to NULL —
    not throw an ANSI divide-by-zero (n_ref * n_cur = 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    rows = {
        "event_id": list(range(20)),
        "ts": [datetime(2024, 1, 20, 12, 0, i) for i in range(20)],
        "user_id": [i % 3 for i in range(20)],
        "event_type": ["purchase"] * 20,
        "value": [float(10 + i) for i in range(20)],
        "props": ["{}"] * 20,
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    for name in ("ks_value_drift", "mannwhitney_value_drift"):
        out = REGISTRY[name].fn(spark, str(tmp_path)).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_ref"] == 0 and r["n_cur"] == 20
        assert r[3] is None  # quantized effect size degrades to NULL


def test_rank_association_perfect_monotone(spark, tmp_path):
    """Spearman rho and Kendall tau-b must hit +1 on a strictly
    increasing daily series and -1 on a strictly decreasing one —
    the defining invariant of rank association (any monotone
    transform of the values leaves both at +/-1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    n_days = 12
    rows = {
        "event_id": list(range(2 * n_days)),
        "ts": [datetime(2024, 1, 1 + d, 12, 0, 0) for d in range(n_days)] * 2,
        "user_id": [0] * (2 * n_days),
        "event_type": ["up"] * n_days + ["down"] * n_days,
        # strictly increasing / decreasing daily totals; values are
        # exact cents so the daily aggregate is tie-free
        "value": [float(d + 1) for d in range(n_days)]
        + [float(n_days - d) for d in range(n_days)],
        "props": ["{}"] * (2 * n_days),
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))

    rho = {
        r["event_type"]: r["spearman_rho"]
        for r in REGISTRY["spearman_daily_corr"].fn(spark, str(tmp_path)).collect()
    }
    assert abs(rho["up"] - 1.0) < 1e-6 and abs(rho["down"] + 1.0) < 1e-6

    tau = {
        r["event_type"]: r
        for r in REGISTRY["kendall_tau_daily"].fn(spark, str(tmp_path)).collect()
    }
    pairs = n_days * (n_days - 1) // 2
    assert tau["up"]["concordant"] == pairs and tau["up"]["discordant"] == 0
    assert tau["down"]["concordant"] == 0 and tau["down"]["discordant"] == pairs
    assert abs(tau["up"]["kendall_tau_b"] - 1.0) < 1e-6
    assert abs(tau["down"]["kendall_tau_b"] + 1.0) < 1e-6


def test_mahalanobis_flags_correlation_breaking_point(spark, tmp_path):
    """A point that breaks the (amount, hour) correlation must be
    flagged even though NEITHER of its coordinates is marginally
    extreme — the property that separates the bivariate screen from
    the univariate z-score/MAD family."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    # tight correlated cloud: value tracks 100 + 2*hour with a small
    # alternating residual so the covariance is non-degenerate
    hours = [h % 24 for h in range(96)]
    values = [100.0 + 2.0 * h + (0.5 if i % 2 else -0.5) for i, h in enumerate(hours)]
    # planted: hour 23 with a value that belongs at hour 0 — both
    # coordinates are inside their marginal ranges
    hours.append(23)
    values.append(100.0)
    rows = {
        "event_id": list(range(len(hours))),
        "ts": [datetime(2024, 1, 1 + i % 28, h, 0, 0) for i, h in enumerate(hours)],
        "user_id": [0] * len(hours),
        "event_type": ["m"] * len(hours),
        "value": values,
        "props": ["{}"] * len(hours),
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    out = REGISTRY["mahalanobis_outliers"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == len(hours)
    assert r["n_outliers_p999"] >= 1
    assert r["max_d2"] > 13.81551


def test_queries_list_oracle_backed_entries_first_in_registration_order():
    """``queries()`` names every registered entry once: the oracle-backed
    ones first, then the rows-only ones, each group in registration
    order. ``oracle_sql()`` holds exactly the oracle-backed ones, in the
    same order. No Spark session is needed."""
    from financial_anomaly_detection_spark.queries import oracle_sql, queries

    names = list(queries())
    assert len(names) == len(set(names)) and set(names) == set(REGISTRY)
    assert ORACLE_QUERIES and ROWS_ONLY_QUERIES
    assert names == ORACLE_QUERIES + ROWS_ONLY_QUERIES != list(REGISTRY)
    assert all(queries()[n] is REGISTRY[n].fn for n in names)
    assert list(oracle_sql()) == ORACLE_QUERIES
    assert all(oracle_sql()[n] == REGISTRY[n].oracle for n in ORACLE_QUERIES)
