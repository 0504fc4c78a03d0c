"""Vacuity audit: flag registry entries whose parity evidence proves
nothing on the fixture data.

The round-10 ADVICE lesson, institutionalized: ex_asof_features was
parity-GREEN for a full round while matching ZERO rows — the fixture's
event clock postdated the last order, so every output row was
(NULL, NULL) and the mirrored oracle agreed perfectly. A green
value-hash over a degenerate result is evidence of nothing. This sweep
runs every entry once and reports:

- entries returning 0 rows (the whole comparison is vacuous),
- columns that are NULL in EVERY row (a join/lookup leg never fires),
- single-row entries where every numeric cell is 0 (scalar rollups
  whose filters select nothing),
- multi-row entries whose VALUE PAYLOAD is constant: at most one column
  varies across >10 rows (the review-caught shape class — e.g. a
  connected-components report that is secretly one giant cluster, or a
  bucket report collapsed onto a single bucket; parity stays green
  because the oracle replays the same degenerate math).

Hits are REPORTED for review, not auto-failed: some are legitimate
(an anti-join dedup report can be empty when there are no duplicates),
but each one deserves a reason. Known-legitimate entries are listed in
EXPECTED with that reason; anything else demands either a fixture-range
fix (the as-of rebase pattern) or an entry here.

Usage: python tools/vacuity_audit.py [SF_DIR]   (default sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from espkinesis_spark import queries
from espkinesis_spark.session import get_spark

# entry -> why an empty/all-NULL shape is correct on this fixture
EXPECTED: dict[str, str] = {
    "ex_dq_checks": "violation counts of 0 are the PASSING state",
    "dq25": "the literal reference DQ-25 contract (customers with no "
    "orders); this fixture has none at any SF — the anti-join machinery "
    "is additionally proven non-vacuously by ex_global_sales_opportunity"
    " and ex_custdist",
    "ex_approx_distinct": "accuracy gate BY DESIGN: emits only sketch-"
    "tolerance violations, so the empty set IS the passing assertion",
    "ex_approx_quantile": "accuracy gate BY DESIGN: emits only "
    "approx-median range violations; empty = contract holds",
}

# entry -> why an (n > 10, at-most-one-varying-column) payload is correct
EXPECTED_CONSTANT: dict[str, str] = {
    "ex_dedup_exact": "the raw corpus is organically duplicate-free "
    "below sf0.1, so every group's multiplicity is 1 at the gate SF "
    "(verified: 0 dup groups at sf0.01, 8 at sf0.1 where n>1 fires); "
    "the multiplicity leg is non-vacuously proven at every SF by dq18, "
    "the deterministically-replicated twin added for exactly this "
    "fixture fact",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    empty, all_null, zero_scalar, constant, broken = [], [], [], [], []
    for name, fn in queries.registry().items():
        try:
            df = fn(spark, sf_dir)
            # constancy via min/max (NOT countDistinct: one distinct
            # aggregate per column triggers Spark's Expand rewrite and
            # multiplies the scanned rows by ~1+n_columns — review catch)
            aggs = (
                [F.count(F.lit(1)).alias("__n")]
                + [F.count(c).alias(f"__nn_{i}") for i, c in enumerate(df.columns)]
                + [F.min(c).alias(f"__mn_{i}") for i, c in enumerate(df.columns)]
                + [F.max(c).alias(f"__mx_{i}") for i, c in enumerate(df.columns)]
            )
            row = df.agg(*aggs).collect()[0]
            n = row["__n"]
            if n == 0:
                empty.append(name)
                continue
            null_cols = [
                c
                for i, c in enumerate(df.columns)
                if row[f"__nn_{i}"] == 0
            ]
            if null_cols:
                all_null.append((name, null_cols))
            if n > 10 and len(df.columns) >= 2:
                # all-NULL columns (non-null count 0) have min==max==None
                # and would read as "constant" here — they are already
                # reported via all_null_columns, so exclude them from the
                # varying<=1 computation entirely (ADVICE r10)
                live = [
                    i for i in range(len(df.columns)) if row[f"__nn_{i}"] > 0
                ]
                varying = sum(
                    1 for i in live if row[f"__mn_{i}"] != row[f"__mx_{i}"]
                )
                const_cols = [
                    df.columns[i]
                    for i in live
                    if row[f"__mn_{i}"] == row[f"__mx_{i}"]
                ]
                if len(live) >= 2 and varying <= 1 and const_cols:
                    constant.append((name, const_cols))
            if n == 1:
                # flag only when EVERY cell is degenerate (0 / None /
                # empty string) — a single-row lookup whose id happens
                # to be 0 but carries a real name is not vacuous
                vals = df.collect()[0]
                if all(
                    v is None or v == 0 or v == "" for v in vals
                ) and len(vals):
                    zero_scalar.append(name)
        except Exception as exc:  # noqa: BLE001
            broken.append((name, str(exc)[:120]))
    unexplained = (
        [e for e in empty if e not in EXPECTED]
        + [n for n, _ in all_null if n not in EXPECTED]
        + [z for z in zero_scalar if z not in EXPECTED]
        + [c for c, _ in constant if c not in EXPECTED_CONSTANT]
    )
    print(f"empty ({len(empty)}): {empty}")
    print(f"all_null_columns ({len(all_null)}): {all_null}")
    print(f"all_zero_scalar ({len(zero_scalar)}): {zero_scalar}")
    print(f"constant_payload ({len(constant)}): {constant}")
    print(f"broken ({len(broken)}): {broken}")
    if broken or unexplained:
        print(f"VACUITY AUDIT: REVIEW NEEDED — unexplained: {unexplained}")
        sys.exit(1)
    print("VACUITY AUDIT CLEAN (expected entries annotated in EXPECTED)")


if __name__ == "__main__":
    main()
