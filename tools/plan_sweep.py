"""Red-flag physical-plan sweep over EVERY registry entry, batch and
streaming.

Greps each entry's physical plan for the three 100 TB killers:
- ``CartesianProduct`` — an unkeyed join that explodes quadratically,
- ``BatchEvalPython`` — row-at-a-time Python (the only acceptable Python
  stages are Arrow-batched: MapInPandas / ArrowEvalPython / pandas UDFs),
- ``SinglePartition`` exchanges — all data funneled through one task.

SinglePartition hits are REPORTED, not failed: a global scalar reduce
over map-side partials (totals, bounds, vocab size) and summary-sized
windows (downsample anchors, sketch-quantile bounds) are inherent and
tiny — the sweep output is for eyeballing that every hit stays in that
category and none is data-sized.

Batch entries are explained unexecuted — with one documented exception:
``ex_zrange_bigmin`` runs a real 4-scalar min/max reduce at DataFrame
CONSTRUCTION time (its z-interval cover is computed driver-side from the
corpus bounds, the summary-collect precedent), so "explaining" that entry
costs one small Spark job. Expected; not a red flag. Streaming entries (``st_*``)
can't be — a streaming frame's physical plan only materializes once a
query runs — so the streaming leg RUNS each entry (availableNow replay,
the entry's own execution path) and greps the executed micro-batch plans
recorded at the drain sites (``jobs.LAST_STREAM_PLANS``) plus the
returned batch frame's plan.

Usage: python tools/plan_sweep.py [SF_DIR]   (default sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from espkinesis_spark import queries
from espkinesis_spark.plans import physical_plan
from espkinesis_spark.session import get_spark
from espkinesis_spark.streaming import jobs


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    cartesian, row_python, single = [], [], []
    streamed, broken = [], []
    for name, fn in queries.registry().items():
        try:
            if name.startswith("st_"):
                jobs.LAST_STREAM_PLANS.clear()
                df = fn(spark, sf_dir)  # runs the availableNow replay
                plans = list(jobs.LAST_STREAM_PLANS.values())
                plans.append(physical_plan(df))
                plan = "\n".join(plans)
                streamed.append((name, len(plans) - 1))
            else:
                plan = physical_plan(fn(spark, sf_dir))
        except Exception as exc:  # a broken entry is its own red flag
            print(f"ERROR {name}: {exc}")
            broken.append(name)
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_python.append(name)
        if "SinglePartition" in plan:
            single.append(name)
    print(f"cartesian ({len(cartesian)}): {cartesian}")
    print(f"row_at_a_time_python ({len(row_python)}): {row_python}")
    print(f"single_partition ({len(single)}): {single}")
    no_plan = [n for n, k in streamed if k == 0]
    print(
        f"streaming_entries_executed ({len(streamed)}); "
        f"without captured micro-batch plan ({len(no_plan)}): {no_plan}"
    )
    assert not broken, f"entries failed to build a plan: {broken}"
    assert not cartesian, "CartesianProduct found"
    assert not row_python, "row-at-a-time Python found"
    print("SWEEP CLEAN (single-partition hits above are for review)")


if __name__ == "__main__":
    main()
