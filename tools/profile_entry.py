"""Per-entry optimization profiler (r16): time one or more registry
entries through the SAME methodology as bench.py (tuned get_spark
session, noop sink, warmed JVM/python-worker pool) and optionally dump
``explain("formatted")`` for each.

Unlike bench.py this is a development tool — it draws K samples per
entry back-to-back and prints min/median, which is what you want when
iterating on one plan, not when producing the round artifact. Next to the
times it prints the Spark jobs each draw started while the DataFrame was
being built (``build_jobs``: eager probes, checkpoints, schema inference)
and while it executed (``run_jobs``), as the median over the K draws.

Usage:
    python tools/profile_entry.py NAME [NAME...] [--k K] [--sf SF_DIR]
        [--explain DIR]   # write DIR/<name>.txt plans
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median(xs):
    s = sorted(xs)
    return s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2


def _jobs_so_far(sc) -> int:
    """Jobs the scheduler has started in this application, from every
    thread (a streaming drain's micro-batches run on the query's own
    thread, under its own job group)."""
    return sc._jsc.sc().dagScheduler().nextJobId()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--k", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", default=None, help="dir to write formatted plans")
    args = ap.parse_args()

    from espkinesis_spark import queries
    from espkinesis_spark.session import get_spark

    spark = get_spark(app_name="espkinesis_profile")
    registry = queries.registry()

    # same warm-ups as bench.py: parquet footers + python worker pool
    registry["dq13"](spark, args.sf).write.mode("overwrite").format("noop").save()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()

    for name in args.names:
        if name not in registry:
            print(f"?? {name}: not in registry", file=sys.stderr)
            continue
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = registry[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        sc = spark.sparkContext
        samples, build_jobs, run_jobs = [], [], []
        for _ in range(args.k):
            sc.setJobDescription(f"profile:{name}")
            t0, j0 = time.perf_counter(), _jobs_so_far(sc)
            df = registry[name](spark, args.sf)
            j1 = _jobs_so_far(sc)
            df.write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
            build_jobs.append(j1 - j0)
            run_jobs.append(_jobs_so_far(sc) - j1)
            sc.setJobDescription(None)
        print(
            f"{name}: min={min(samples):.3f} med={_median(samples):.3f} "
            f"build_jobs={_median(build_jobs):g} run_jobs={_median(run_jobs):g} "
            f"all={[round(x, 3) for x in samples]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
