"""Drain-scale audit: flag streaming entries whose DRIVER MEMORY SINK
holds a corpus-proportional store.

The round-10 VERDICT lesson, institutionalized: st_zorder_layout and
st_hash_split were value-parity GREEN for a full round while draining
every per-event / per-doc row through the driver memory sink — a plan
that materializes the whole corpus in driver memory at scale. Value
gates cannot see a placement flaw; this sweep makes it mechanical:

Run every st_* registry entry at TWO scale factors (default sf0.01 and
sf0.1 — the only step where BOTH the documents table (500 -> 5000) and
the events table (10k -> 100k) actually grow 10x; sf0.001 -> sf0.01
leaves documents flat at 500, which would blind the doc-side leg).
For each entry, record the row count of every frame jobs._drain
returned through the memory sink (its name did not go to
jobs._drain_to_parquet) at each SF, plus the entry's RESULT row count.
The declared stream entries (``queries.TWINS``) drain in
``jobs.twin_stream``, whose drain is picked by the declaration
(``rows_per_source``, ``mode``); it calls both drains through the
module globals this audit swaps for its spies.
Classification of a store whose rows grow more than GROWTH_LIMIT across
the step:

  * result leg (mechanical): sink rows == the entry's returned rows at
    the big SF — the drained frame IS the result set, which the
    harness collects anyway, so the memory sink adds no second
    corpus-sized driver copy (the r10 VERDICT st_stratified carve-out).
  * EXPECTED_GROWTH (annotated): per-doc fingerprint stores (a
    constant number of rows per source row, so jobs._drain's source
    bounds cap them: the memory sink BELOW the bounds, the parquet
    drain above) and stores whose
    growth tracks a dimension the fixture couples to SF (key
    cardinality, time span) rather than corpus row count.
  * anything else: FLAGGED — cross it to jobs._drain_to_parquet (for
    a declared entry: ``rows_per_source=None``), or to jobs._drain with
    its constant bound of store rows per source row.

Exit 1 on unexplained flags, 0 when clean.

Usage: python tools/drain_scale_audit.py [SMALL_SF_DIR] [BIG_SF_DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from espkinesis_spark import queries
from espkinesis_spark.session import get_spark

# growth beyond this across the ~10x step is treated as proportional
# (sketch/vocab stores grow sublinearly — Heaps'-law-ish, well under 5x
# per decade; true per-row stores grow the full ~10x)
GROWTH_LIMIT = 5.0

# absolute floor: a store this small at the BIG SF is trivially bounded
# even when its growth ratio is large or infinite (a 0 -> 5 row alert
# sink would otherwise flag with ratio=inf), so it never flags
MIN_FLAG_ROWS = 1000

# sink name -> why >GROWTH_LIMIT growth is correct for this store
EXPECTED_GROWTH: dict[str, str] = {
    "st_image_neardup_sink": "size-routed per-doc fingerprint store: "
    "_drain keeps it on the memory sink below the 256 MB source bound "
    "and 1M store rows (4 per source document) and crosses to the "
    "parquet drain above them (route "
    "pinned by tests/test_streaming.py::test_drain_rowstore_routes_by_source_size)",
    "st_image_dedup_apply_sink": "size-routed per-doc fingerprint "
    "store (same source bounds)",
    "st_audio_neardup_sink": "size-routed per-doc fingerprint store "
    "(same source bounds)",
    "st_audio_dedup_apply_sink": "size-routed per-doc fingerprint "
    "store (same source bounds)",
    "st_anomaly_sink": "complete-mode (hour-window x type) count state: "
    "grows with the fixture's TIME SPAN (which this fixture couples to "
    "SF), not with event volume — at production rates the window x type "
    "grid is bounded per retention period",
}


def _run_entries(spark, sf_dir: str):
    """entry -> ({memory-sink store -> rows}, entry result rows) at one SF.
    ``jobs._drain`` drops the sink's temp view before it returns, so the
    store is counted from the frame it returns."""
    from espkinesis_spark.streaming import jobs

    drain, to_parquet = jobs._drain, jobs._drain_to_parquet
    parquet: set[str] = set()
    sizes: dict[str, int] = {}

    def parquet_spy(df, name, **kwargs):
        parquet.add(name)
        return to_parquet(df, name, **kwargs)

    def drain_spy(df, name, source, mode="append", rows_per_source=1):
        out = drain(df, name, source, mode, rows_per_source)
        if name not in parquet:
            sizes[name] = out.count()
        return out

    jobs._drain, jobs._drain_to_parquet = drain_spy, parquet_spy
    out = {}
    try:
        for name, fn in queries.registry().items():
            if not name.startswith("st_"):
                continue
            parquet.clear()
            sizes.clear()
            n_result = fn(spark, sf_dir).count()
            out[name] = (dict(sizes), n_result)
    finally:
        jobs._drain, jobs._drain_to_parquet = drain, to_parquet
    return out


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="drain_scale_audit")

    lo = _run_entries(spark, small)
    hi = _run_entries(spark, big)

    flagged = []
    print("memory-sink stores (rows at small SF -> big SF):")
    for entry in sorted(set(lo) | set(hi)):
        lo_sizes, _ = lo.get(entry, ({}, 0))
        hi_sizes, hi_result = hi.get(entry, ({}, 0))
        for sink in sorted(set(lo_sizes) | set(hi_sizes)):
            a, b = lo_sizes.get(sink, 0), hi_sizes.get(sink, 0)
            ratio = (b / a) if a else (float("inf") if b else 1.0)
            if ratio <= GROWTH_LIMIT or b < MIN_FLAG_ROWS:
                status = "ok"
            elif b == hi_result:
                status = "result leg (sink rows == returned rows)"
            elif sink in EXPECTED_GROWTH:
                status = f"expected ({EXPECTED_GROWTH[sink].split(':')[0]})"
            else:
                status = "FLAG: corpus-proportional memory-sink store"
                flagged.append((entry, sink, a, b, ratio))
            print(f"  {entry:28s} {sink:32s} {a:>8d} -> {b:>8d}"
                  f"  x{ratio:5.1f}  {status}")

    if flagged:
        print(f"\nFLAGGED ({len(flagged)}): corpus-proportional driver "
              "memory-sink stores — cross these to the parquet drain "
              "(jobs._drain_to_parquet):")
        for entry, sink, a, b, r in flagged:
            print(f"  {entry}: {sink} {a} -> {b} (x{r:.1f})")
        sys.exit(1)
    print("\nDRAIN SCALE AUDIT CLEAN (growth cases annotated above)")


if __name__ == "__main__":
    main()
