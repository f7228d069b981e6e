"""Scoring / fusion column builders (SURVEY.md §2.8 F7-F14, §2.4 A6-A7).

These are the reference's per-record Python scoring functions
(python_scoring/app.py:156-203, api/app.py:167-194) re-expressed as
pure Catalyst column expressions — no UDFs, so the whole scoring tail
stays inside whole-stage codegen at any scale.

Default thresholds/weights mirror the reference's env-var defaults
(app.py:22-24 and the Dockerfile ENV block).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Reference defaults (python_scoring/app.py:22-24, Dockerfile ENV).
SCORE_THRESHOLD_MED = -0.1
AMOUNT_HIGH_RISK = 10000.0
# Width of the decision-score sigmoid (python_scoring/app.py:189-190).
INV_SIGMOID_SCALE = 0.1

# Rule weights (python_scoring/app.py:156-164; api/app.py:167-179).
RULE_LARGE_AMOUNT_T = 1000.0
RULE_LARGE_AMOUNT_W = 0.6
RULE_CARD_LOCATION_W = 0.3
RULE_ODD_HOUR_W = 0.2
CARD_CHANNEL = "card"
USUAL_LOCATIONS = ("harare", "bulawayo")
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

# Fusion weights (python_scoring/app.py:194 — note they sum to 1.45 and
# the result is deliberately NOT clipped; quirk preserved for parity).
W_IFOREST, W_LOF, W_AE, W_RULE = 0.4, 0.3, 0.3, 0.45


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def deviation_ratio(amount: Column | str, avg: Column | str) -> Column:
    """F7 — ``(amount - avg) / (avg + 1e-9) if avg > 0 else 0.0``
    (python_scoring/app.py:142; api/app.py:243)."""
    amount, avg = _c(amount), _c(avg)
    return F.when(avg > 0, (amount - avg) / (avg + F.lit(1e-9))).otherwise(F.lit(0.0))


def inv_sigmoid(score: Column | str) -> Column:
    """F8 — ``1 / (1 + exp((x - center) / scale))`` with center
    ``SCORE_THRESHOLD_MED`` and scale ``INV_SIGMOID_SCALE``
    (python_scoring/app.py:189-190): maps sklearn decision scores
    (higher = more normal) to anomaly probability (higher = worse)."""
    return F.lit(1.0) / (
        F.lit(1.0)
        + F.exp((_c(score) - F.lit(SCORE_THRESHOLD_MED)) / F.lit(INV_SIGMOID_SCALE))
    )


def clip01(col: Column | str) -> Column:
    """F9 — ``np.clip(x, 0, 1)`` (python_scoring/app.py:193)."""
    return F.least(F.greatest(_c(col), F.lit(0.0)), F.lit(1.0))


def _rule_conditions(
    amount: Column | str,
    channel: Column | str,
    location: Column | str,
    hour: Column | str,
    large_amount_t: float = RULE_LARGE_AMOUNT_T,
) -> list[tuple[Column, float, str]]:
    """The three scoring rules (python_scoring/app.py:156-164).

    ``large_amount_t`` is env-tunable in the reference (AMOUNT rules via
    Dockerfile ENV), so it is a parameter here too.
    """
    amount, hour = _c(amount), _c(hour)
    # Fold case with translate, not lower(): Spark 4.1's lower() goes
    # through ICU, whose first call in a JVM runs a ~1.5-2 s class
    # initializer that every other task of a cold pass waits on. The
    # ASCII-only fold equals the reference's str.lower() here: the only
    # non-ASCII characters whose str.lower() is ASCII are U+0130 (-> "i"
    # plus a combining dot, still non-ASCII) and U+212A KELVIN SIGN
    # (-> "k"), and no rule literal contains a "k".
    channel, location = (F.translate(_c(x), _UPPER, _UPPER.lower()) for x in (channel, location))
    return [
        (amount > F.lit(large_amount_t), RULE_LARGE_AMOUNT_W, "large_amount"),
        (
            (channel == CARD_CHANNEL) & ~location.isin(*USUAL_LOCATIONS),
            RULE_CARD_LOCATION_W,
            "card_unusual_location",
        ),
        (hour < F.lit(5), RULE_ODD_HOUR_W, "odd_hour"),
    ]


def rule_score(
    amount: Column | str,
    channel: Column | str,
    location: Column | str,
    hour: Column | str,
    large_amount_t: float = RULE_LARGE_AMOUNT_T,
) -> Column:
    """F13 + A6 — weighted rule sum capped at 1.0
    (python_scoring/app.py:156-164)."""
    total: Column = F.lit(0.0)
    for cond, weight, _ in _rule_conditions(amount, channel, location, hour, large_amount_t):
        total = total + F.when(cond, F.lit(weight)).otherwise(F.lit(0.0))
    return F.least(total, F.lit(1.0))


def rule_flags(
    amount: Column | str,
    channel: Column | str,
    location: Column | str,
    hour: Column | str,
    large_amount_t: float = RULE_LARGE_AMOUNT_T,
) -> Column:
    """F13 — the triggered-rule name list (api/app.py:169-178),
    as ``array<string>`` with nulls compacted out."""
    parts = [
        F.when(cond, F.lit(name))
        for cond, _, name in _rule_conditions(amount, channel, location, hour, large_amount_t)
    ]
    return F.array_compact(F.array(*parts))


def fuse_scores(
    iforest: Column | str, lof: Column | str, ae: Column | str, rule: Column | str
) -> Column:
    """F10 — weighted fusion, python_scoring variant
    (app.py:194): ``0.4*if + 0.3*lof + 0.3*ae + 0.45*rule`` where the
    model scores go through the inverse-sigmoid normalization first.
    Weights sum to 1.45 and the output is unclipped — reference quirk
    kept verbatim (SURVEY.md appendix)."""
    return (
        F.lit(W_IFOREST) * inv_sigmoid(iforest)
        + F.lit(W_LOF) * inv_sigmoid(lof)
        + F.lit(W_AE) * clip01(ae)
        + F.lit(W_RULE) * _c(rule)
    )


def fuse_scores_orchestrator(
    rule: Column | str, model: Column | str, deviation: Column | str
) -> Column:
    """F10, api variant (api/app.py:181-185):
    ``0.45*rule + 0.4*model + 0.15*clip01(|dev|)`` with a floor bump to
    0.5 when rule >= 0.6 but the blend lands under 0.4."""
    dev_term = clip01(F.abs(_c(deviation)))
    agg = F.lit(0.45) * _c(rule) + F.lit(0.4) * _c(model) + F.lit(0.15) * dev_term
    return F.when((_c(rule) >= 0.6) & (agg < 0.4), F.lit(0.5)).otherwise(agg)


def high_amount_override(
    agg: Column | str, amount: Column | str, threshold: float = AMOUNT_HIGH_RISK
) -> Column:
    """F11 — ``agg = max(agg, 0.85) if amount >= 10000``
    (python_scoring/app.py:195-196). Threshold env-tunable (app.py:24)."""
    return F.when(
        _c(amount) >= F.lit(threshold), F.greatest(_c(agg), F.lit(0.85))
    ).otherwise(_c(agg))


def risk_level(agg: Column | str) -> Column:
    """F12 — risk bucketing CASE (python_scoring/app.py:197-202):
    >=0.7 High, >=0.4 Medium, else Low."""
    a = _c(agg)
    return (
        F.when(a >= 0.7, F.lit("High"))
        .when(a >= 0.4, F.lit("Medium"))
        .otherwise(F.lit("Low"))
    )
