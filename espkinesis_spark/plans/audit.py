"""Physical-plan audits: assert the optimizer produced the scale-safe plan.

A plan that is correct but re-reads pruned columns, skips a broadcast, or
inserts a redundant exchange is a silent 100x regression at 100 TB — these
helpers let tests pin the *plan shape*, not just the result values.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The physical plan in 'formatted' explain mode (full scan metadata —
    the plain toString truncates long FileScan lines before ReadSchema)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# Catalyst reports sizeInBytes = Long.MaxValue (~8 EB) for a plan it has
# no statistics for; any estimate at or past 2^60 (~1 EB) is that
# sentinel, not a measurement — genuine petabyte estimates stay below it.
NO_STATS_BYTES = 1 << 60


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate — no job, no collect.

    For a parquet scan this is the (filtered) file size. ``None`` means
    "size unknown": the plan has no statistics (Catalyst's no-stats
    sentinel) or the estimate failed. Auto-routing callers treat
    ``None`` as too big to collect or broadcast — the safe direction.
    """
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if size >= NO_STATS_BYTES else size


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet-scan PushedFilters entries, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def scan_columns(df: DataFrame) -> list[set[str]]:
    """Per-scan read schemas (column-pruning witness): one set of column
    names per parquet scan in the plan."""
    out: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", physical_plan(df)):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
        out.append(cols)
    return out


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges). Counts
    the formatted plan's numbered node headers so each node counts once."""
    return len(re.findall(r"^\(\d+\) Exchange\b", physical_plan(df), re.MULTILINE))


def broadcast_join_count(df: DataFrame) -> int:
    return len(
        re.findall(
            r"^\(\d+\) Broadcast(?:Hash|NestedLoop)Join\b", physical_plan(df), re.MULTILINE
        )
    )
