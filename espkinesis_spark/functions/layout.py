"""Z-order (Morton) data-layout operators.

Multi-dimensional clustering for the 100 TB write path: interleaving the
bits of two quantized dimensions yields ONE sort key whose ranges are
local in BOTH dimensions at once, so a range-partitioned, z-sorted
parquet layout lets predicates on EITHER column prune files via min/max
footer stats (the OPTIMIZE ZORDER idea in the open Delta/Iceberg
ecosystems; the curve itself is Morton 1966). A plain sort buys pruning
on one axis only — the layout report in ``ex_zorder_layout`` makes the
difference measurable: every z-bucket spans a small extent of BOTH axes.

Everything here is exact signed-64-bit integer bit manipulation (shifts,
masks, adds), so the DuckDB oracle replays the math verbatim and the
key survives any SF: 2 x 16 bits = a 32-bit z-value with 2^31 headroom.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C


def z_value(x: Column, y: Column, bits: int = C.ZORDER_BITS) -> Column:
    """Interleave the low ``bits`` bits of two non-negative long columns
    into one Morton key: x's bit i lands at position 2i, y's at 2i+1 (y
    is the HIGH axis of each pair). Pure codegen — 2*bits shift/mask/add
    terms, no UDF, no shuffle."""
    out: Column | None = None
    for i in range(bits):
        xt = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        yt = F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        term = xt + yt
        out = term if out is None else out + term
    assert out is not None
    return out.cast("long")


def z_value_sql(x: str, y: str, bits: int = C.ZORDER_BITS) -> str:
    """The identical interleave as portable SQL (DuckDB oracle side)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def range_quantize(col: str, mn: str, mx: str, bits: int = C.ZORDER_BITS) -> Column:
    """Quantize column ``col`` onto a 2^bits grid over [mn, mx] with exact
    integer arithmetic: least((col - mn) * 2^bits div (mx - mn + 1),
    2^bits - 1). Integer `div` end to end — no float scaling, so the
    grid is deterministic and monotone (grid order = value order) and
    the DuckDB `//` replay is bit-identical. Arguments are COLUMN NAMES
    (the exact-div needs SQL `div`, which takes expressions by name).
    Callers keep (col - mn) * 2^bits inside int64 — e.g. quantize epoch
    MILLIS, not micros: a 10-year span in ms is ~3e11, x 65536 ~2e16,
    well under 2^63."""
    n = 1 << bits
    return F.expr(
        f"least((({col} - {mn}) * {n}) div ({mx} - {mn} + 1), {n - 1})"
    ).cast("long")


def range_quantize_py(v: int, lo: int, hi: int, bits: int = C.ZORDER_BITS) -> int:
    """Driver-side twin of ``range_quantize`` — bit-identical by
    construction (same least/div arithmetic, Python ``//`` == SQL
    ``div`` for the non-negative operands the grid guarantees). Exists
    so the z-interval covers computed on the driver (``ex_zrange_bigmin``,
    the io file-skip tests) share ONE definition with the executor-side
    column: a drifted copy would silently break the cover's losslessness."""
    n = 1 << bits
    return min((v - lo) * n // (hi - lo + 1), n - 1)


def bucket_axis_bits(bucket: Column, axis: int, report_bits: int = C.ZORDER_REPORT_BITS) -> Column:
    """De-interleave one axis' bits out of a z-REPORT bucket id: axis 0 is
    the LOW axis of each pair (x in ``z_value``), axis 1 the high (y).
    For the 6-bit report bucket this returns the axis' 3-bit octile —
    the exact top-3 grid bits of that axis (floor-div composition:
    (v * 2^bits div span) div 2^(bits-3) == v * 8 div span), which is
    what makes octile-range pruning LOSSLESS and monotone."""
    out: Column | None = None
    for i in range(report_bits // 2):
        bit = F.shiftright(bucket, 2 * i + axis).bitwiseAND(F.lit(1))
        term = F.shiftleft(bit, i)
        out = term if out is None else out + term
    assert out is not None
    return out.cast("long")


def z_box_intervals(
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    bits: int = C.ZORDER_BITS,
    max_intervals: int = 32,
) -> list[tuple[int, int]]:
    """Decompose an axis-aligned box in QUANTIZED grid coordinates into a
    small set of CONTIGUOUS z-value intervals — the BIGMIN idea (Tropf &
    Herzog 1981; the z-range refinement GeoMesa/HBase-style readers run)
    expressed as z-ordered quadtree recursion, which emits the identical
    interval set without the per-split bit surgery.

    Why this beats the octile cross-product (``ex_zrange_query``'s
    prefilter) for SKEWED boxes: octiles fix the grid at 3 bits/axis, so
    a box spanning 1/16 of one axis still keeps whole octiles — 2x the
    rows/files it needs on that axis. Here the recursion descends until
    the box is tiled exactly OR the merged interval budget is hit, so a
    thin box earns a proportionally thin cover. Intervals stay a DRIVER
    list of scalars (never data-sized: bounded by ``max_intervals``), so
    at 100 TB the cover compiles into a codegen OR-of-BETWEENs row
    filter and a footer-stat file skip — no shuffle, no UDF.

    The cover is LOSSLESS by construction: every grid cell intersecting
    the box lies inside some emitted quad, and a quad's z-values are
    contiguous (Morton property), so z(u, t) of every matching row falls
    in an interval. Budget exhaustion only COARSENS quads (keeps
    supersets) — it never drops a cell.

    Inputs are inclusive cell coordinates on the 2^bits grid; x is the
    LOW interleave axis of ``z_value``, y the high. Returns merged,
    sorted, inclusive ``(z_lo, z_hi)`` intervals — never more than
    ``max(1, max_intervals)`` of them (a non-empty box always yields at
    least the one whole-space interval); the degenerate empty box
    (hi < lo) returns []."""
    if x_hi < x_lo or y_hi < y_lo:
        return []
    n = 1 << bits
    x_lo, y_lo = max(x_lo, 0), max(y_lo, 0)
    x_hi, y_hi = min(x_hi, n - 1), min(y_hi, n - 1)

    # Deepest refinement level whose merged cover fits the budget. Start
    # from depth 0 (one interval — the whole z space — fits ANY budget
    # >= 1, so the bound below holds unconditionally) and deepen one
    # level at a time, keeping the deepest result within budget (the
    # decomposition is pure python over O(perimeter) quads —
    # microseconds, not a data pass).
    best = [(0, (1 << (2 * bits)) - 1)]
    for depth in range(1, bits + 1):
        nxt = _z_quad_cover(x_lo, x_hi, y_lo, y_hi, bits, depth_cap=depth)
        if len(nxt) > max_intervals:
            break
        best = nxt
        if _cover_is_exact(nxt, x_lo, x_hi, y_lo, y_hi):
            break
    return best


def _z_quad_cover(
    x_lo: int, x_hi: int, y_lo: int, y_hi: int, bits: int, depth_cap: int
) -> list[tuple[int, int]]:
    """Z-ordered quadtree cover of the box, quads coarsened at
    ``depth_cap``; returns merged inclusive z-intervals (sorted, because
    the recursion visits quads in z order)."""
    out: list[list[int]] = []

    def rec(prefix: int, depth: int, cx_lo: int, cy_lo: int) -> None:
        side = 1 << (bits - depth)
        cx_hi, cy_hi = cx_lo + side - 1, cy_lo + side - 1
        if cx_hi < x_lo or cx_lo > x_hi or cy_hi < y_lo or cy_lo > y_hi:
            return
        inside = x_lo <= cx_lo and cx_hi <= x_hi and y_lo <= cy_lo and cy_hi <= y_hi
        if inside or depth >= depth_cap or depth >= bits:
            z_lo = prefix << (2 * (bits - depth))
            z_hi = ((prefix + 1) << (2 * (bits - depth))) - 1
            if out and z_lo == out[-1][1] + 1:
                out[-1][1] = z_hi  # adjacent in z — merge in place
            else:
                out.append([z_lo, z_hi])
            return
        half = side >> 1
        # children in increasing-z order: z_value puts x at even bit
        # positions (low axis), y at odd — child index = (y_bit<<1)|x_bit
        for child in range(4):
            rec(
                (prefix << 2) | child,
                depth + 1,
                cx_lo + (child & 1) * half,
                cy_lo + ((child >> 1) & 1) * half,
            )

    rec(0, 0, 0, 0)
    return [(lo, hi) for lo, hi in out]


def _cover_is_exact(
    intervals: list[tuple[int, int]], x_lo: int, x_hi: int, y_lo: int, y_hi: int
) -> bool:
    """True when the cover's total z-cell count equals the box's cell
    count — no further depth can tighten it."""
    covered = sum(hi - lo + 1 for lo, hi in intervals)
    return covered == (x_hi - x_lo + 1) * (y_hi - y_lo + 1)


def z_interval_prefilter(
    df: DataFrame, zcol: str, intervals: list[tuple[int, int]]
) -> DataFrame:
    """Rows of ``df`` whose ``zcol`` lies in a z-interval cover: a
    broadcast LEFT-SEMI range join against the (budget-bounded,
    driver-side) interval list. A semi-join rather than an
    OR-of-BETWEENs row filter deliberately: Catalyst's project collapse
    would inline the 32-term ``z_value`` expression behind ``zcol`` into
    EVERY between term — the giant-codegen Janino hazard NOTES.md
    documents — while the join condition reads the one projected column
    per row. An empty cover selects nothing."""
    ivdf = df.sparkSession.createDataFrame(intervals, "z_lo long, z_hi long")
    return df.join(
        F.broadcast(ivdf),
        F.col(zcol).between(F.col("z_lo"), F.col("z_hi")),
        "leftsemi",
    )


def zorder_write_plan(df: DataFrame, zcol: str, num_files: int) -> DataFrame:
    """The production z-ordered WRITE layout: range-partition the frame on
    the z-key (RangePartitioning — contiguous z-ranges per output file)
    and sort within each partition, so every parquet file carries tight
    min/max footer stats on BOTH underlying dimensions. Returned (not
    written) so callers pick the sink; the plan audit pins the
    RangePartitioning exchange."""
    return df.repartitionByRange(num_files, F.col(zcol)).sortWithinPartitions(zcol)
