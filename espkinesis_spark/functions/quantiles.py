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
2. **Bound** — over the summary only: a block holds the partition rows
   with sorted rank in ``(c_prev, c]``; their VALUES satisfy
   ``v_lo <= x <= v_hi`` (closed on the left — ties on the boundary
   value spill into the block). So ``count(x <= v)`` is bracketed by
   ``lower(v) = sum(w | v_hi <= v)`` (those blocks lie entirely at or
   below ``v``) and ``upper(v) = sum(w | v_lo <= v)`` (a block whose
   ``v_lo`` exceeds ``v`` lies entirely above it; the comparison must be
   NON-strict or boundary ties undercount). For target rank ``r`` the
   true quantile then
   sits in ``(lo, hi]`` with ``lo = max{v : upper(v) < r}`` (possibly
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

Scale shape: two single-column scans + one summary-sized window + one
interval-sized aggregation. No full-data exchange at all, versus the
global sort's shuffle of every row. The interval filter and conditional
sums push down to the parquet scan. The bound windows run on a single
partition BY DESIGN — they see O(partitions x SKQ_SUMMARY) rows, never
data-sized (at extreme partition counts, shrink SKQ_SUMMARY or add one
intermediate merge pass; the blocks are mergeable by construction).

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


def sketch_quantiles(
    df: DataFrame,
    col: str,
    pcts: Sequence[int] = C.SKQ_PCTS,
    s: int = C.SKQ_SUMMARY,
) -> DataFrame:
    """Exact percentiles of ``df[col]`` (one row per pct) without a
    global sort — see the module docstring for the algorithm and scale
    argument. Output: ``pct, n, target_rank, value`` with ``value`` the
    exact ``target_rank``-th smallest non-null input value."""
    vals = df.select(F.col(col).cast("double").alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    # Materialize the summary ONCE: three bound-phase consumers (lower /
    # starts / total) would each re-execute the full-data scan + per-
    # partition sort otherwise (ADVICE r6). The checkpoint is
    # O(partitions x SKQ_SUMMARY) rows — cheap at any data size.
    blocks = vals.mapInPandas(_partition_blocks(s), _BLOCK_SCHEMA).localCheckpoint(
        eager=True
    )

    # --- bound phase: summary-sized only ------------------------------
    # lower(v_hi): RANGE frame includes cross-partition ties on v_hi
    w_lower = Window.orderBy("v_hi").rangeBetween(Window.unboundedPreceding, 0)
    lower = (
        blocks.withColumn("lower_cnt", F.sum("w").over(w_lower))
        .groupBy("v_hi")
        .agg(F.max("lower_cnt").alias("lower_cnt"))
    )
    # upper(v) = sum(w | v_lo <= v): merge-sort block starts (kind=0)
    # BEFORE candidates (kind=1) at equal value, take the running w sum —
    # a block whose v_lo equals the candidate must be included (boundary
    # ties spill into the block: values are closed on the left). NULL
    # v_lo (partition min block) sorts first and is always included.
    cand = lower.select(
        F.col("v_hi").alias("val"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("w"),
    )
    starts = (
        blocks.groupBy(F.col("v_lo").alias("val"))
        .agg(F.sum("w").alias("w"))
        .select("val", F.lit(0).alias("kind"), "w")
    )
    w_upper = Window.orderBy(
        F.col("val").asc_nulls_first(), "kind"
    ).rowsBetween(Window.unboundedPreceding, 0)
    upper = (
        cand.unionByName(starts)
        .withColumn("upper_cnt", F.sum(F.coalesce("w", F.lit(0))).over(w_upper))
        .filter(F.col("kind") == 1)
        .groupBy(F.col("val").alias("v_hi"))
        .agg(F.min("upper_cnt").alias("upper_cnt"))
    )
    bounds = lower.join(upper, "v_hi")
    total = blocks.agg(F.sum("w").cast("long").alias("n"))
    pct_df = total.select(
        "n", F.explode(F.array(*[F.lit(int(p)) for p in pcts])).alias("pct")
    ).withColumn(
        # INTEGER div, matching the oracle's `//` — double division then
        # truncation goes off-by-one once n is large enough that the
        # ~1e-16 relative error crosses the fractional gap
        "target_rank",
        F.expr("(pct * n + 99) div 100").cast("long"),
    )
    intervals = (
        bounds.crossJoin(F.broadcast(pct_df))
        .groupBy("pct", "n", "target_rank")
        .agg(
            F.max(
                F.when(F.col("upper_cnt") < F.col("target_rank"), F.col("v_hi"))
            ).alias("lo"),
            F.min(
                F.when(F.col("lower_cnt") >= F.col("target_rank"), F.col("v_hi"))
            ).alias("hi"),
        )
    )
    # bounded build-side collect: one row per pct (like the centroid /
    # query-side collects in similarity.py — never data-sized)
    ivs = [r for r in intervals.collect() if r["n"]]
    if not ivs:  # empty/all-null input: empty result, stable schema
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
    hi_max = max(r["hi"] for r in ivs)
    entries = []
    for r in ivs:
        pct = F.lit(int(r["pct"]))
        in_rng = F.col("__x") <= F.lit(r["hi"])
        if r["lo"] is None:
            entry = F.when(
                in_rng, F.struct(pct.alias("pct"), F.col("__x").alias("v"))
            )
        else:
            entry = F.when(
                F.col("__x") <= F.lit(r["lo"]),
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
    need = F.create_map(
        *[x for r in ivs for x in (F.lit(int(r["pct"])), F.lit(int(r["target_rank"])))]
    )
    n_map = F.create_map(
        *[x for r in ivs for x in (F.lit(int(r["pct"])), F.lit(int(r["n"])))]
    )
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
        n_map[F.col("pct")].cast("long").alias("n"),
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


def hdr_buckets(df: DataFrame, col: str, scale: int = C.HDR_SCALE) -> DataFrame:
    """The mergeable sketch itself: (shift, top, w) bucket counts of
    ``df[col]`` quantized to integer 1/scale units (sign-aware half-away,
    the repo-wide fixed-point convention). Works unchanged on a streaming
    frame (stateless projection + one grouped count — complete-mode state
    is bucket-table-sized, never data-sized). Non-positive quantized
    values are outside the log-sketch domain and excluded (documented;
    a production deployment would keep a separate zero/negative counter —
    the test data is strictly positive)."""
    k = C.HDR_SUB_BITS
    x = F.expr(
        f"CAST(CASE WHEN {col} >= 0 THEN floor({col} * {scale} + 0.5) "
        f"ELSE -floor(-({col}) * {scale} + 0.5) END AS BIGINT)"
    )
    return (
        df.select(x.alias("__x"))
        .filter(F.col("__x") >= 1)
        .withColumn("__m", (F.length(F.bin(F.col("__x"))) - 1).cast("int"))
        .withColumn("shift", F.greatest(F.lit(0), F.col("__m") - F.lit(k)))
        .withColumn("top", F.expr("shiftright(__x, shift)"))
        .groupBy("shift", "top")
        .agg(F.count("*").cast("long").alias("w"))
    )


def hdr_quantiles(buckets: DataFrame, pcts: Sequence[int] = C.SKQ_PCTS) -> DataFrame:
    """Answer percentiles FROM the sketch: one row per pct with the
    integer bucket lower bound (guaranteed within relative
    2^-HDR_SUB_BITS below the true order statistic) and its descaled
    double. All windows/aggregates run over the bucket table only —
    sketch-sized by construction, never data-sized (the inherent
    summary-window SinglePartition, same class as sketch_quantiles'
    bound phase). The bucket table feeds two branches (cumulative ranks
    and the total), so callers pass it materialized; a live one would
    scan the corpus twice."""
    ordered = buckets.withColumn("lb", F.expr("shiftleft(top, shift)"))
    w_cum = Window.orderBy("lb").rowsBetween(Window.unboundedPreceding, 0)
    cum = ordered.withColumn("cum", F.sum("w").over(w_cum))
    tot = ordered.agg(F.sum("w").cast("long").alias("n"))
    pct_df = tot.select(
        "n", F.explode(F.array(*[F.lit(int(p)) for p in pcts])).alias("pct")
    ).withColumn("target_rank", F.expr("(pct * n + 99) div 100").cast("long"))
    return (
        cum.crossJoin(F.broadcast(pct_df))
        .groupBy("pct", "n", "target_rank")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("target_rank"), F.col("lb"))
            ).alias("bucket_lb")
        )
        .withColumn(
            "est", (F.col("bucket_lb").cast("double") / F.lit(float(C.HDR_SCALE)))
        )
    )


def hdr_grouped_quantiles(
    df: DataFrame,
    col: str,
    group_col: str,
    pcts: Sequence[int] = C.SKQ_PCTS,
    scale: int = C.HDR_SCALE,
) -> DataFrame:
    """Per-GROUP percentiles from the HDR sketch — the everyday ops
    question ("p99 latency per endpoint") answered with one scan + one
    (group, bucket)-keyed map-side-partial shuffle, never a per-group
    sort. The sketch is built per group (state: groups × bucket-space,
    still data-size independent) and every extraction window partitions
    BY GROUP, so nothing here is single-partition even at millions of
    groups. Same integer discipline as ``hdr_quantiles`` — bit-identical
    under any partitioning."""
    k = C.HDR_SUB_BITS
    x = F.expr(
        f"CAST(CASE WHEN {col} >= 0 THEN floor({col} * {scale} + 0.5) "
        f"ELSE -floor(-({col}) * {scale} + 0.5) END AS BIGINT)"
    )
    buckets = (
        df.select(F.col(group_col).alias("grp"), x.alias("__x"))
        .filter(F.col("__x") >= 1)
        .withColumn("__m", (F.length(F.bin(F.col("__x"))) - 1).cast("int"))
        .withColumn("shift", F.greatest(F.lit(0), F.col("__m") - F.lit(k)))
        .withColumn("top", F.expr("shiftright(__x, shift)"))
        .groupBy("grp", "shift", "top")
        .agg(F.count("*").cast("long").alias("w"))
        # feeds the cumulative AND total branches — sketch-sized, freeze
        .localCheckpoint(eager=True)
    )
    ordered = buckets.withColumn("lb", F.expr("shiftleft(top, shift)"))
    w_cum = (
        Window.partitionBy("grp").orderBy("lb").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    cum = ordered.withColumn("cum", F.sum("w").over(w_cum))
    tot = ordered.groupBy("grp").agg(F.sum("w").cast("long").alias("n"))
    pct_df = tot.select(
        "grp", "n", F.explode(F.array(*[F.lit(int(p)) for p in pcts])).alias("pct")
    ).withColumn("target_rank", F.expr("(pct * n + 99) div 100").cast("long"))
    return (
        cum.join(pct_df, "grp")
        .groupBy("grp", "pct", "n", "target_rank")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("target_rank"), F.col("lb"))
            ).alias("bucket_lb")
        )
        .withColumn("est", F.col("bucket_lb").cast("double") / F.lit(float(scale)))
    )
