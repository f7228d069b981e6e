"""Time/date column builders (SURVEY.md §2.8 F1-F4).

The one genuine parity trap in the reference's time handling is the
day-of-week convention: pandas ``ts.dayofweek`` is Monday=0..Sunday=6
(train.py:42), Spark ``F.dayofweek`` is Sunday=1..Saturday=7. The shim
lives here once; every engine plan uses it.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dow_pandas(ts: Column | str) -> Column:
    """F3 — day-of-week in the pandas convention (Mon=0..Sun=6).

    Spark's dayofweek is Sun=1..Sat=7, so ``(dow + 5) % 7`` re-bases:
    Sun(1)->6, Mon(2)->0, ..., Sat(7)->5.
    """
    return ((F.dayofweek(ts) + F.lit(5)) % F.lit(7)).cast("int")


def time_features(ts: Column | str) -> dict[str, Column]:
    """F2/F3 — the four time features fed to the models
    (reference train.py:40-43)."""
    return {
        "year": F.year(ts).cast("int"),
        "month": F.month(ts).cast("int"),
        "day_of_week": dow_pandas(ts),
        "hour": F.hour(ts).cast("int"),
    }


def lookback_filter(ts: Column | str, anchor: str, days: int) -> Column:
    """P8/W3 — the rolling lookback predicate
    ``timestamp >= DATE_SUB(anchor, INTERVAL <days> DAY)`` with an
    explicit anchor instead of the reference's ``NOW()``
    (python_scoring/app.py:124) so replays are deterministic.

    Half-open interval [anchor - days, anchor): events at or after the
    anchor are excluded (the reference's NOW() naturally excludes the
    future; tests pin the anchor after the data's max ts).
    """
    anchor_ts = F.to_timestamp(F.lit(anchor))
    low = anchor_ts - F.expr(f"INTERVAL {int(days)} DAYS")
    c = F.col(ts) if isinstance(ts, str) else ts
    return (c >= low) & (c < anchor_ts)
