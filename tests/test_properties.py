"""Property-based tests (SURVEY.md §5.2): invariants of the scoring
tail (F7-F13, A6) over randomized inputs, evaluated through the real
Catalyst expressions on one batch DataFrame per case set (hypothesis
generates the rows; Spark evaluates the columns)."""

from __future__ import annotations

import itertools

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from financial_anomaly_detection_spark.functions.scoring import (
    CARD_CHANNEL,
    RULE_CARD_LOCATION_W,
    USUAL_LOCATIONS,
    clip01,
    deviation_ratio,
    fuse_scores,
    fuse_scores_orchestrator,
    high_amount_override,
    inv_sigmoid,
    risk_level,
    rule_flags,
    rule_score,
)

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
amounts = st.floats(min_value=0.0, max_value=1e6, allow_nan=False, allow_infinity=False)


def _eval(spark, rows, schema, cols):
    df = spark.createDataFrame(rows, schema)
    return df.select(*cols).collect()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(amounts, st.sampled_from(["card", "pos"]),
                          st.sampled_from(["Harare", "Mutare"]),
                          st.integers(0, 23)), min_size=1, max_size=30))
def test_rule_score_bounds(spark, cases):
    rows = [(float(a), c, l, h) for a, c, l, h in cases]
    out = _eval(
        spark, rows, "amount double, channel string, location string, hour int",
        [rule_score("amount", "channel", "location", "hour").alias("r")],
    )
    for r in out:
        # A6: weighted rule sum capped at 1.0, never negative
        assert 0.0 <= r["r"] <= 1.0


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(finite, finite, finite, st.floats(0, 1, allow_nan=False)),
                min_size=1, max_size=30))
def test_fusion_bounds_and_floor(spark, cases):
    rows = [(float(i), float(lo), float(ae), float(ru)) for i, lo, ae, ru in cases]
    out = _eval(
        spark, rows, "i double, lo double, ae double, ru double",
        [
            fuse_scores("i", "lo", "ae", "ru").alias("agg"),
            fuse_scores_orchestrator("ru", F.lit(0.0), "i").alias("orch"),
            F.col("ru"),
        ],
    )
    for r in out:
        # F10: inv-sigmoid terms in (0,1), ae clipped, rule in [0,1]
        # -> python_scoring fusion bounded by the weight sum 1.45
        assert 0.0 <= r["agg"] <= 1.45 + 1e-9
        # orchestrator variant: floor rule guarantees >= 0.4 whenever
        # the rule component alone is decisive (api/app.py:184-185)
        if r["ru"] >= 0.6:
            assert r["orch"] >= 0.4 - 1e-9


@settings(max_examples=20, deadline=None)
@given(st.lists(finite, min_size=1, max_size=50))
def test_inv_sigmoid_monotone_decreasing(spark, xs):
    rows = [(float(x),) for x in sorted(xs)]
    out = _eval(spark, rows, "x double", [inv_sigmoid("x").alias("s"), F.col("x")])
    vals = [r["s"] for r in out]
    # F8: higher decision score (more normal) -> lower anomaly score
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert all(a >= b - 1e-12 for a, b in zip(vals, vals[1:]))


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(amounts, st.floats(0, 1e6, allow_nan=False)), min_size=1, max_size=30))
def test_deviation_and_override(spark, cases):
    rows = [(float(a), float(avg)) for a, avg in cases]
    out = _eval(
        spark, rows, "amount double, avg double",
        [
            deviation_ratio("amount", "avg").alias("dev"),
            high_amount_override(clip01(F.lit(0.1)), "amount").alias("ov"),
            F.col("amount"), F.col("avg"),
        ],
    )
    for r in out:
        if r["avg"] <= 0:
            assert r["dev"] == 0.0  # F7 guard branch
        # F11: >=10000 forces at least 0.85
        if r["amount"] >= 10000.0:
            assert r["ov"] >= 0.85
        else:
            assert abs(r["ov"] - 0.1) < 1e-12


def test_risk_bucket_boundaries(spark):
    rows = [(x,) for x in [0.0, 0.3999999, 0.4, 0.699999, 0.7, 1.0, 1.45]]
    out = _eval(spark, rows, "x double", [F.col("x"), risk_level("x").alias("rl")])
    got = {r["x"]: r["rl"] for r in out}
    # F12 boundaries are inclusive at 0.4 and 0.7 (app.py:197-202)
    assert got[0.0] == "Low" and got[0.3999999] == "Low"
    assert got[0.4] == "Medium" and got[0.699999] == "Medium"
    assert got[0.7] == "High" and got[1.0] == "High" and got[1.45] == "High"


# --- two-pass parallel prefix sum (round 4) -------------------------------

_kv = st.lists(
    st.tuples(st.integers(-10_000, 10_000), st.integers(0, 1_000)),
    min_size=1,
    max_size=120,
    unique_by=lambda t: t[0],
)


@settings(max_examples=15, deadline=None)
@given(_kv)
def test_prefix_sum_matches_sequential_reference(spark, kv):
    """ordered_prefix_sum == the plain Python running sum for ANY set
    of unique keys (negative, sparse, unordered) and values — the
    bucketing/offset algebra may not depend on key distribution."""
    from financial_anomaly_detection_spark.operators.prefix import (
        ordered_prefix_sum,
    )

    df = spark.createDataFrame(kv, "k long, v long")
    got = {
        r["k"]: r["prefix_before"]
        for r in ordered_prefix_sum(df, "k", "v", n_buckets=7, pin=False).collect()
    }
    acc = 0
    for k, v in sorted(kv):
        assert got[k] == acc, f"key {k}: {got[k]} != {acc}"
        acc += v


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),          # low-cardinality group
            st.integers(min_value=0, max_value=1000),  # order key (dups allowed)
            st.integers(min_value=-500, max_value=500),  # integer value -> exact
        ),
        min_size=1,
        max_size=60,
    )
)
def test_grouped_prefix_stats_property(spark, cases):
    """grouped_prefix_stats == the sequential per-group running
    sum/count for ANY group/key/value multiset (integer values, so the
    sum is exact). Ties on the order key are resolved by a unique tie
    column, exactly like the window it replaces."""
    from pyspark.sql import Window

    from financial_anomaly_detection_spark.operators.prefix import (
        grouped_prefix_stats,
    )

    rows = [(g, int(k), i, float(v)) for i, (g, k, v) in enumerate(cases)]
    df = spark.createDataFrame(rows, "g string, k long, tie long, v double")
    got = grouped_prefix_stats(df, "g", "k", "tie", "v", n_buckets=4)
    w = (
        Window.partitionBy("g")
        .orderBy("k", "tie")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.select(
        "tie",
        F.coalesce(F.sum("v").over(w), F.lit(0.0)).alias("ws"),
        F.count(F.lit(1)).over(w).cast("long").alias("wc"),
    )
    j = {r["tie"]: r for r in got.select("tie", "_psum", "_pcnt").collect()}
    for r in want.collect():
        assert j[r["tie"]]["_pcnt"] == r["wc"]
        assert abs(j[r["tie"]]["_psum"] - r["ws"]) < 1e-9


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),  # price (dups on purpose)
            st.integers(min_value=0, max_value=20),  # size
        ),
        min_size=1,
        max_size=50,
    )
)
def test_skyline_decomposition_matches_bruteforce(spark, pts):
    """The prefix-max skyline decomposition == the O(n^2) dominance
    definition for ANY point multiset, including duplicate prices,
    duplicate sizes, and fully-duplicated points (which are mutual
    non-dominators and must BOTH survive)."""
    from pyspark.sql import Window
    from financial_anomaly_detection_spark.operators.prefix import (
        ordered_prefix_max,
    )

    rows = [(i, p, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, price_u long, size long")
    pm = ordered_prefix_max(df, "price_u", "size", out_col="_strict_max")
    eq_max = F.max("size").over(Window.partitionBy("price_u"))
    dominated = (F.col("_strict_max") >= F.col("size")) | (eq_max > F.col("size"))
    got = sorted(
        r["id"]
        for r in pm.withColumn("_dom", F.coalesce(dominated, F.lit(False)))
        .filter(~F.col("_dom"))
        .collect()
    )

    def dominated_by_any(i):
        pi, si = pts[i]
        return any(
            (pj <= pi and sj >= si and (pj < pi or sj > si))
            for j, (pj, sj) in enumerate(pts)
            if j != i
        )

    want = sorted(i for i in range(len(pts)) if not dominated_by_any(i))
    assert got == want


# --- codec properties (round 5; pure-python, no Spark) ---------------------


@given(
    st.integers(8, 24),
    st.integers(8, 24),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=20, deadline=None)
@example(h=8, w=9, seed=1_925_368_163)  # found by hypothesis r6: err 3
def test_jpeg_444_quant1_roundtrip_bound(h, w, seed):
    """At quant=1 the only loss is DCT-coefficient rounding (+-0.5 per
    coefficient; YCbCr stays float through the encoder) amplified by
    the YCbCr->RGB matrix (worst row: b = y + 1.772*cb). A per-channel
    spatial error of ~1.5 is reachable on noise images, so the honest
    composite bound is +-4 — the +-2 this test originally asserted was
    an empirical accident hypothesis eventually broke (h=8, w=9, seed
    1925368163 reaches 3; pinned below as a regression example)."""
    import numpy as np

    from financial_anomaly_detection_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype("uint8")
    out = decode_jpeg(encode_jpeg(img, quant=1))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


@given(st.integers(0, 2**32 - 1), st.sampled_from(["mu", "a"]))
@settings(max_examples=20, deadline=None)
def test_g711_relative_error_bound(seed, law):
    """G.711 quantization error is relative (companding): bounded by
    ~7% of magnitude plus the segment-0 step, plus clipping above the
    law's peak level."""
    import numpy as np

    from financial_anomaly_detection_spark.operators.codecs import (
        _alaw_decode,
        _alaw_encode,
        _mulaw_decode,
        _mulaw_encode,
    )

    dec, enc, peak = (
        (_mulaw_decode, _mulaw_encode, 32124)
        if law == "mu"
        else (_alaw_decode, _alaw_encode, 32256)
    )
    rng = np.random.default_rng(seed)
    x = rng.integers(-32768, 32768, size=512).astype(np.int16)
    err = np.abs(dec(enc(x)).astype(int) - x.astype(int))
    bound = 0.07 * np.abs(x.astype(int)) + 16 + np.maximum(np.abs(x.astype(int)) - peak, 0)
    assert (err <= bound).all()


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),  # heavy value ties
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[1],
    )
)
def test_ordered_rank_desc_matches_sequential_window(spark, rows):
    """ordered_rank_desc == rank()/row_number() over (v DESC, id ASC)
    for ANY value multiset (negative, tied, skewed) — the bucketed
    carry-in algebra may not depend on the value distribution; the
    attached total must equal the row count everywhere."""
    from pyspark.sql import Window

    from financial_anomaly_detection_spark.operators.prefix import (
        ordered_rank_desc,
    )

    df = spark.createDataFrame([(v, i) for v, i in rows], "v long, id long")
    got = ordered_rank_desc(
        df, "v", "id", out_col="rnk", n_buckets=5, pin=False, total_col="tot"
    )
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    want = df.withColumn("rnk_w", F.row_number().over(w).cast("long"))
    j = {r["id"]: r for r in got.collect()}
    for r in want.collect():
        assert j[r["id"]]["rnk"] == r["rnk_w"]
        assert j[r["id"]]["tot"] == len(rows)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=60),
    st.lists(st.integers(0, 50), min_size=1, max_size=60),
)
def test_wasserstein_counts_match_bruteforce_transport(spark, ref, cur):
    """wasserstein_from_counts' closed form equals the brute-force 1-D
    optimal transport cost between the SORTED empirical quantile
    functions (the other classical W1 identity) on random integer
    samples — engine-independent, formula-level."""
    import numpy as np

    from financial_anomaly_detection_spark.operators.driftstats import (
        wasserstein_from_counts,
    )
    from collections import Counter

    cr, cc = Counter(ref), Counter(cur)
    grid = sorted(set(ref) | set(cur))
    rows = [(int(v), int(cr.get(v, 0)), int(cc.get(v, 0))) for v in grid]
    g = spark.createDataFrame(rows, "cents long, c_ref long, c_cur long")
    out = wasserstein_from_counts(g).collect()[0]
    # brute force: W1 = integral_0^1 |F_ref^-1(q) - F_cur^-1(q)| dq,
    # computed on the common refinement of both quantile grids
    a, b = np.sort(np.array(ref, dtype=float)), np.sort(np.array(cur, dtype=float))
    qs = np.unique(
        np.concatenate([np.arange(len(a) + 1) / len(a),
                        np.arange(len(b) + 1) / len(b)])
    )
    w1 = 0.0
    for q0, q1 in zip(qs[:-1], qs[1:]):
        mid = (q0 + q1) / 2
        va = a[min(int(mid * len(a)), len(a) - 1)]
        vb = b[min(int(mid * len(b)), len(b) - 1)]
        w1 += abs(va - vb) * (q1 - q0)
    got = out["w1_num"] / (out["n_ref"] * out["n_cur"])
    assert abs(got - w1) < 1e-9, (got, w1)


_TEXT_ALPHABET = "ab cd\t\n\r  ef"  # words + the ASCII whitespace zoo


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(alphabet=_TEXT_ALPHABET, min_size=0, max_size=80), min_size=1, max_size=6))
def test_python_minhash_kernel_matches_duckdb_on_arbitrary_whitespace(texts):
    """Tri-engine hash parity beyond the fixture: the pure-hashlib sig
    kernel (streaming/neardup.py) must equal DuckDB's md5 signature
    family on texts with tabs/newlines/runs of spaces — including the
    trim-vs-strip and \\s-semantics traps (Spark trim strips SPACES
    only; Java/RE2 \\s is ASCII). Spark == DuckDB is already pinned by
    the minhash_band_pairs_md5 oracle, so python == DuckDB closes the
    triangle."""
    import duckdb

    from financial_anomaly_detection_spark.streaming.neardup import minhash_sigs

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", list(enumerate(texts))
    )
    mins = ", ".join(
        f"MIN(('0x' || substr(md5(_sh || ':{i}'), 1, 8))::BIGINT) AS sig_{i}"
        for i in range(16)
    )
    sql = rf"""
        WITH base AS (
            SELECT doc_id, text,
                   string_split_regex(trim(text), '\s+') AS toks
            FROM t
        ), sh AS (
            SELECT doc_id AS _id, unnest(list_distinct(
                CASE WHEN length(toks) >= 3 THEN
                    list_transform(generate_series(1, length(toks) - 2),
                                   i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                ELSE [trim(text)] END)) AS _sh
            FROM base
        )
        SELECT _id, {mins} FROM sh GROUP BY _id ORDER BY _id
    """
    duck = {r[0]: list(r[1:]) for r in con.execute(sql).fetchall()}
    for doc_id, text in enumerate(texts):
        assert minhash_sigs(text) == duck[doc_id], (doc_id, repr(text))


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=_TEXT_ALPHABET, min_size=0, max_size=200))
def test_python_winnow_kernel_matches_duckdb_on_arbitrary_whitespace(text):
    """Same triangle for the decontam gate's winnow fingerprints
    (streaming/decontam.py) vs the stream_decontam_replay oracle's
    list-function construction."""
    import duckdb

    from financial_anomaly_detection_spark.streaming.decontam import (
        winnow_fingerprints,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.execute("INSERT INTO t VALUES (?)", [text])
    sql = r"""
        WITH w AS (
            SELECT string_split_regex(trim(text), '\s+') AS t FROM t
        ), h AS (
            SELECT CASE WHEN len(t) >= 11 THEN
                       list_transform(range(1, len(t) - 6),
                           i -> ('0x' || substr(md5(
                                    array_to_string(t[i:i+7], ' ')
                                ), 1, 8))::BIGINT)
                   ELSE [] END AS hs
            FROM w
        )
        SELECT list_distinct(CASE WHEN len(hs) >= 4 THEN
                   list_transform(range(1, len(hs) - 2),
                                  i -> list_min(hs[i:i+3]))
               ELSE [] END) AS fps
        FROM h
    """
    duck_fps = set(con.execute(sql).fetchone()[0])
    assert winnow_fingerprints(text) == duck_fps, repr(text)


def test_rules_fold_case_like_the_reference(spark):
    """The card/location rule matches the reference's ``str.lower()``
    comparisons (python_scoring/app.py:156-164) on mixed case, non-ASCII
    letters, the two non-ASCII characters whose ``lower()`` has ASCII
    in it (U+212A KELVIN SIGN -> "k", U+0130 -> "i" + combining dot)
    and nulls."""
    # the ASCII-only fold is exact because no rule literal has a "k"
    assert "k" not in CARD_CHANNEL + "".join(USUAL_LOCATIONS)
    channels = ["CARD", "Card", "card", "\u212aard", "c\u0130rd", "straße", "pos", None]
    locations = [
        "HARARE", "BuLaWaYo", "harare", "Gwéru", "HARÂRE", "straße",
        "\u212aadoma", "Harar\u0130", "Mutare", None,
    ]
    rows = [(10.0, c, loc, 12) for c, loc in itertools.product(channels, locations)]
    out = _eval(
        spark, rows, "amount double, channel string, location string, hour int",
        [
            F.col("channel"),
            F.col("location"),
            rule_score("amount", "channel", "location", "hour").alias("r"),
            rule_flags("amount", "channel", "location", "hour").alias("f"),
        ],
    )
    assert len(out) == len(rows)
    for r in out:
        c, loc = r["channel"], r["location"]
        hit = (
            c is not None and loc is not None
            and c.lower() == CARD_CHANNEL and loc.lower() not in USUAL_LOCATIONS
        )
        assert r["r"] == (RULE_CARD_LOCATION_W if hit else 0.0), (c, loc)
        assert r["f"] == (["card_unusual_location"] if hit else []), (c, loc)
