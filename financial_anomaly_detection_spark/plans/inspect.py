"""Physical-plan inspection helpers for scale guards.

The scale rule this repo enforces is "no full-data single-partition
funnel": a ``Window``/``Sort``/``Project`` fed by an ``Exchange
SinglePartition`` routes EVERY row through one task — correct at test
scale, a scale-killer at 100 TB. A *scalar-aggregate reduction* is a
different animal: ``df.agg(min, max)`` plans partial aggregates on
every partition and THEN a single-partition exchange of one row per
partition — O(num_partitions) rows through the funnel, which is the
canonical (and unavoidable) way any engine computes a global scalar.

Earlier guards grepped the FORMATTED explain for the literal string
``Exchange SinglePartition`` — which that mode never emits (it prints
``Exchange (38)`` with ``Arguments: SinglePartition, ...`` on a
separate line), so the assertion was vacuous. These helpers use the
SIMPLE explain mode, where exchange nodes print inline
(``+- Exchange SinglePartition, ENSURE_REQUIREMENTS, ...``) with the
child on the following line, and classify each occurrence.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def simple_plan(df: DataFrame) -> str:
    """The simple-mode physical plan string (exchanges print inline)."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def _is_scalar_agg_reduction(child_line: str) -> bool:
    """True when an exchange's child is a keyless partial aggregate.

    ``HashAggregate(keys=[], functions=[partial_min(...)])`` emits one
    row per input partition, so the single-partition exchange above it
    moves O(num_partitions) rows — the benign global-scalar pattern.
    """
    stripped = child_line.strip()
    if not any(n in stripped for n in _AGG_NODES):
        return False
    return "keys=[]" in stripped and "partial_" in stripped


def single_partition_violations(df: DataFrame) -> list[str]:
    """Every ``Exchange SinglePartition`` whose input is NOT a scalar
    partial-aggregate reduction — i.e., every full-data funnel.

    Returns the offending plan lines (empty list == scale-clean). The
    child of an exchange in simple-mode output is the next line (one
    tree level deeper); a trailing ``ReusedExchange`` reference has no
    child line and inherits its referent's classification, so only the
    defining occurrence is checked.
    """
    lines = simple_plan(df).splitlines()
    bad: list[str] = []
    for i, line in enumerate(lines):
        if not re.search(r"Exchange SinglePartition", line):
            continue
        # a ReusedExchange LEAF embeds its referent's string
        # ("ReusedExchange [...], Exchange SinglePartition, ...") but
        # has no child line — classifying it by lines[i+1] would test
        # an unrelated sibling; the defining occurrence already was
        # (or will be) classified on its own line
        if "ReusedExchange" in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if not _is_scalar_agg_reduction(child):
            bad.append(line.strip())
    return bad
