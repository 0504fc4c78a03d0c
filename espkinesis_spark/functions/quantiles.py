"""Exact distributed quantiles via mergeable per-partition summaries.

The naive exact quantile is a global sort — a full shuffle of every row,
the single most expensive plan shape at 100 TB. The classic alternative
(`percentile_approx`, already exposed as ``ex_approx_quantile``) is
mergeable and cheap but APPROXIMATE: its answer depends on the sketch
accuracy, so it can't back a parity gate or a billing-grade percentile.

``sketch_quantiles`` gets EXACT answers with no global sort using the
two-phase summarize-then-select pattern (the same candidate-narrowing
idea as the Misra-Gries + exact-verify heavy hitters in
``text.frequent_values``). The mergeable per-partition summary follows
the quantile-sketch lineage (Greenwald & Khanna 2001; Karnin, Lang &
Liberty 2016), specialized: instead of answering from the sketch, the
sketch's rank brackets only NARROW the search so one cheap exact pass
can finish the job:

1. **Summarize** — one scan; each partition sorts its own values (the
   work a sort-shuffle would do anyway, minus the exchange) and emits
   ``SKQ_SUMMARY`` exact order statistics as weighted blocks
   ``(v_lo, v_hi, w)``: ``w`` rows of the partition lie in
   ``(v_lo, v_hi]``. Summary size is O(partitions x SKQ_SUMMARY) rows —
   data-size independent.
2. **Bound** — on the driver, over the summary only (one collect, then
   sort/cumsum/searchsorted in ``_brackets``): a block holds the
   partition rows with sorted rank in ``(c_prev, c]``; their VALUES satisfy
   ``v_lo <= x <= v_hi`` (closed on the left — ties on the boundary
   value spill into the block). So ``count(x <= v)`` is bracketed by
   ``lower(v) = sum(w | v_hi <= v)`` (those blocks lie entirely at or
   below ``v``) and ``upper(v) = sum(w | v_lo <= v)`` (a block whose
   ``v_lo`` exceeds ``v`` lies entirely above it; the comparison must be
   NON-strict or boundary ties undercount). For target rank ``r`` the
   true quantile then sits in ``(lo, hi]`` with ``lo = max{v : upper(v) < r}`` (possibly
   none) and ``hi = min{v : lower(v) >= r}`` (always exists: the global
   max has ``lower = n``). Each partition contributes at most
   ``n_p/SKQ_SUMMARY`` rows of rank slack per boundary, so the interval
   spans <= 2n/SKQ_SUMMARY rows — a 1/64th slice at the default.
3. **Select** — one exact pass over ``x <= max(hi)`` (a pushable range):
   each row is tagged per pct as below-interval (counted under a NULL
   sentinel — that count IS the exact offset ``count(x <= lo)``) or
   in-interval (grouped by value); the answer is the first interval
   value whose offset-adjusted cumulative count reaches ``r``. The
   output is the exact order statistic — independent of partitioning,
   batch order, and SKQ_SUMMARY (the sketch only narrows the interval).

Scale shape: two single-column scans + one summary collect + one
interval-sized aggregation. No full-data exchange at all, versus the
global sort's shuffle of every row. The interval filter and conditional
sums push down to the parquet scan. The bound phase runs on the DRIVER
BY DESIGN: it sees the O(partitions x SKQ_SUMMARY) summary rows, never
data-sized — the rows a single-partition Spark window would hold,
without the window's jobs (at extreme partition counts, shrink
SKQ_SUMMARY or add one intermediate merge pass; the blocks are
mergeable by construction).

Rank convention: ``r(pct) = ceil(pct * n / 100)`` computed in INTEGER
arithmetic (``(pct*n + 99) div 100``) so both engines agree exactly —
``ceil(0.01 * n)`` in doubles is off-by-one bait. NULLs are excluded
(documented; mirror with ``WHERE x IS NOT NULL``).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C

_BLOCK_SCHEMA = "v_lo double, v_hi double, w long"


def _partition_blocks(s: int):
    """mapInPandas kernel: sort the partition's values, emit ``s`` exact
    order-statistic blocks. Runs once per partition (the iterator spans
    the whole partition); memory is the partition's value column — the
    same footprint the sort-exchange alternative needs per task."""
    import numpy as np
    import pandas as pd

    def kernel(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        chunks = [pdf["__x"].dropna().to_numpy(dtype="float64") for pdf in batches]
        vals = np.concatenate(chunks) if chunks else np.empty(0)
        n = len(vals)
        if n == 0:
            return
        vals.sort(kind="stable")
        # ranks ceil(j*n/s), j=1..s — always ends at n; dedupe for n < s
        ranks = np.unique(-(-np.arange(1, s + 1) * n // s))
        v_hi = vals[ranks - 1]
        v_lo = np.concatenate(([np.nan], v_hi[:-1]))
        w = np.diff(np.concatenate(([0], ranks)))
        yield pd.DataFrame({"v_lo": v_lo, "v_hi": v_hi, "w": w.astype("int64")})

    return kernel


def _brackets(
    v_lo: "np.ndarray", v_hi: "np.ndarray", w: "np.ndarray", pcts: Sequence[int]
) -> tuple[int, list[tuple[int, int, float | None, float]]]:
    """The bound phase over a collected block summary: ``n`` and, per
    pct, ``(pct, target_rank, lo, hi)`` with the order statistic in
    ``(lo, hi]`` (``lo`` None when no candidate lies below it). A NaN
    ``v_lo`` is a partition's first block (its NULL start) and counts
    under every candidate."""
    import numpy as np

    n = int(w.sum())
    if not n:
        return 0, []
    cands = np.unique(v_hi)
    by_hi = np.argsort(v_hi, kind="stable")
    # lower(v) = sum(w | v_hi <= v), upper(v) = sum(w | v_lo <= v): both
    # non-strict, so boundary ties on either edge count
    lower = np.concatenate(([0], np.cumsum(w[by_hi])))[
        np.searchsorted(v_hi[by_hi], cands, side="right")
    ]
    starts = ~np.isnan(v_lo)
    by_lo = np.argsort(v_lo[starts], kind="stable")
    upper = int(w[~starts].sum()) + np.concatenate(
        ([0], np.cumsum(w[starts][by_lo]))
    )[np.searchsorted(v_lo[starts][by_lo], cands, side="right")]
    out = []
    for pct in pcts:
        rk = (int(pct) * n + 99) // 100  # exact ints, as the oracle's //
        below = int(np.searchsorted(upper, rk, side="left"))
        lo = float(cands[below - 1]) if below else None
        hi = float(cands[np.searchsorted(lower, rk, side="left")])
        out.append((int(pct), rk, lo, hi))
    return n, out


def sketch_quantiles(
    df: DataFrame,
    col: str,
    pcts: Sequence[int] = C.SKQ_PCTS,
    s: int = C.SKQ_SUMMARY,
) -> DataFrame:
    """Exact percentiles of ``df[col]`` (one row per pct) without a
    global sort — see the module docstring for the algorithm and scale
    argument. Output: ``pct, n, target_rank, value`` with ``value`` the
    exact ``target_rank``-th smallest non-null input value. The block
    summary comes back to the driver in one collect: at most partitions
    x ``s`` rows, whatever the row count."""
    vals = df.select(F.col(col).cast("double").alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    blocks = vals.mapInPandas(_partition_blocks(s), _BLOCK_SCHEMA).toPandas()
    n, brackets = _brackets(
        blocks["v_lo"].to_numpy("float64"),
        blocks["v_hi"].to_numpy("float64"),
        blocks["w"].to_numpy("int64"),
        pcts,
    )
    if not n:  # empty/all-null input: empty result, stable schema
        return df.sparkSession.createDataFrame(
            [], "pct int, n long, target_rank long, value double"
        )

    # --- select phase: ONE exact pass ---------------------------------
    # Each scanned row is tagged, per pct, as either an interval row
    # (grouped by its value) or a below-interval row (grouped under a
    # NULL-value sentinel whose count IS the exact offset count(x <= lo))
    # — so the offsets ride the same scan/aggregation as the interval
    # histogram instead of costing a second full scan. The scan filter
    # x <= max(hi) is a plain pushable range: rows at or below any lo
    # still matter (they feed the offsets), so per-interval pruning
    # tighter than hi_max would be incorrect here.
    hi_max = max(hi for *_, hi in brackets)
    entries = []
    for p, _, lo, hi in brackets:
        pct = F.lit(p)
        in_rng = F.col("__x") <= F.lit(hi)
        if lo is None:
            entry = F.when(
                in_rng, F.struct(pct.alias("pct"), F.col("__x").alias("v"))
            )
        else:
            entry = F.when(
                F.col("__x") <= F.lit(lo),
                F.struct(pct.alias("pct"), F.lit(None).cast("double").alias("v")),
            ).when(in_rng, F.struct(pct.alias("pct"), F.col("__x").alias("v")))
        entries.append(entry)
    tagged = (
        vals.filter(F.col("__x") <= F.lit(hi_max))
        .select(F.explode(F.array_compact(F.array(*entries))).alias("t"))
        .groupBy(F.col("t.pct").alias("pct"), F.col("t.v").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    # offset and cumulative count as two windows over the SAME aggregated
    # table (a self-join of `tagged` would duplicate the scan subtree):
    # the NULL-sentinel row sorts first, contributes its count to `off`
    # via the whole-partition frame, and is zeroed out of `cum`
    w_pct = Window.partitionBy("pct")
    w_sel = Window.partitionBy("pct").orderBy("v").rangeBetween(
        Window.unboundedPreceding, 0
    )
    need = F.create_map(*[F.lit(x) for p, rk, *_ in brackets for x in (p, rk)])
    sel = (
        tagged.withColumn(
            "off", F.max(F.when(F.col("v").isNull(), F.col("c"))).over(w_pct)
        )
        .withColumn(
            "cum",
            F.sum(
                F.when(F.col("v").isNotNull(), F.col("c")).otherwise(F.lit(0))
            ).over(w_sel),
        )
        .filter(F.col("v").isNotNull())
        .withColumn(
            "rank_in_iv",
            need[F.col("pct")] - F.coalesce(F.col("off"), F.lit(0)),
        )
        .filter(F.col("cum") >= F.col("rank_in_iv"))
        .groupBy("pct")
        .agg(F.min("v").alias("value"))
    )
    return sel.select(
        "pct",
        F.lit(n).cast("long").alias("n"),
        need[F.col("pct")].cast("long").alias("target_rank"),
        "value",
    )


# ---------------------------------------------------------------------------
# Mergeable log-bucketed quantile sketch (HdrHistogram bucketing)
# ---------------------------------------------------------------------------
#
# sketch_quantiles above is the right BATCH plan (exact answers, two
# scans), but its per-partition summaries narrow a second pass — there is
# no second pass in a streaming job, so the streaming percentile needs a
# sketch that answers FROM ITSELF and merges across micro-batches. The
# classic candidates (t-digest, KLL) merge float centroids / sampled
# levels whose result depends on merge ORDER — a driver-hash gate would
# read that nondeterminism as corruption. The HdrHistogram bucketing
# (Tene's High Dynamic Range histogram; the DDSketch log-bucket idea with
# integer base-2 buckets) gives up nothing we need: the sketch is the
# bucket-count table itself, merge is integer addition by bucket key
# (associative + commutative => bit-identical under ANY partitioning or
# arrival order), the bucket count is bounded (<= 64 shifts x 2^(k+1)
# tops) regardless of data size, and the reported bucket lower bound
# carries a GUARANTEED relative error < 2^-HDR_SUB_BITS.
#
# Bucketing (for integer x >= 1, k = HDR_SUB_BITS):
#   m     = bit_length(x) - 1          (msb position)
#   shift = max(0, m - k)
#   top   = x >> shift                 (the k+1 leading bits; < 2^(k+1))
# Buckets are the disjoint ranges [top << shift, (top+1) << shift); the
# lower bound lb = top << shift is a unique integer sort key. For
# shift > 0, top >= 2^k, so bucket width 2^shift <= lb / 2^k — any value
# in the bucket is within relative 2^-k of lb. shift == 0 buckets are
# EXACT (width 1).
#
# Extraction (rank convention identical to sketch_quantiles:
# r = (pct*n + 99) div 100): cumulative bucket counts in lb order; the
# answer bucket is the first with cum >= r, and the true r-th order
# statistic provably lies inside it. Every step is integer arithmetic,
# so the DuckDB oracle replays it bit-exactly.


def hdr_buckets(df: DataFrame, col: str, *group: str) -> DataFrame:
    """The mergeable sketch itself: (``*group``, shift, top, w) bucket
    counts of ``df[col]`` quantized to integer 1/HDR_SCALE units
    (sign-aware half-away, the repo-wide fixed-point convention), one
    sketch per value of the optional ``group`` columns. Works unchanged
    on a streaming frame (stateless projection + one grouped count —
    complete-mode state is groups x bucket-space, never data-sized).
    Non-positive quantized values are outside the log-sketch domain and
    excluded (documented; a production deployment would keep a separate
    zero/negative counter — the test data is strictly positive)."""
    k, scale = C.HDR_SUB_BITS, C.HDR_SCALE
    x = F.expr(
        f"CAST(CASE WHEN {col} >= 0 THEN floor({col} * {scale} + 0.5) "
        f"ELSE -floor(-({col}) * {scale} + 0.5) END AS BIGINT)"
    )
    return (
        df.select(*group, x.alias("__x"))
        .filter(F.col("__x") >= 1)
        .withColumn("__m", (F.length(F.bin(F.col("__x"))) - 1).cast("int"))
        .withColumn("shift", F.greatest(F.lit(0), F.col("__m") - F.lit(k)))
        .withColumn("top", F.expr("shiftright(__x, shift)"))
        .groupBy(*group, "shift", "top")
        .agg(F.count("*").cast("long").alias("w"))
    )


def hdr_quantiles(
    buckets: DataFrame, pcts: Sequence[int] = C.SKQ_PCTS, *group: str
) -> DataFrame:
    """Answer percentiles FROM the sketch: one row per (``*group``, pct)
    with the integer bucket lower bound (guaranteed within relative
    2^-HDR_SUB_BITS below the true order statistic) and its descaled
    double. All windows/aggregates run over the bucket table only —
    sketch-sized by construction, never data-sized. Ungrouped, the
    cumulative window is the inherent summary-window SinglePartition;
    grouped ("p99 latency per endpoint"), every window partitions BY
    GROUP, so nothing is single-partition even at millions of groups.
    The bucket table feeds two branches (cumulative ranks and the
    total), so callers pass it materialized; a live one would scan the
    corpus twice."""
    ordered = buckets.withColumn("lb", F.expr("shiftleft(top, shift)"))
    w_cum = (
        Window.partitionBy(*group)
        .orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ordered.withColumn("cum", F.sum("w").over(w_cum))
    tot = ordered.groupBy(*group).agg(F.sum("w").cast("long").alias("n"))
    pct_df = tot.select(
        *group, "n", F.explode(F.array(*[F.lit(int(p)) for p in pcts])).alias("pct")
    ).withColumn("target_rank", F.expr("(pct * n + 99) div 100").cast("long"))
    joined = (
        cum.join(pct_df, list(group)) if group else cum.crossJoin(F.broadcast(pct_df))
    )
    return (
        joined.groupBy(*group, "pct", "n", "target_rank")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("target_rank"), F.col("lb"))
            ).alias("bucket_lb")
        )
        .withColumn(
            "est", (F.col("bucket_lb").cast("double") / F.lit(float(C.HDR_SCALE)))
        )
    )
