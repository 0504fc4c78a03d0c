"""A/B compare of two benchmark run sets (parent commit A, change B).

    python3 perfbench/compare.py RUNS_A RUNS_B [--benchmark BENCHMARK.json]

RUNS_A and RUNS_B are directories holding one file per run: the stdout of
``perfbench/run.py`` (its ``report`` line and its final JSON line). Run the
two commits alternately with the same seeds; runs are paired by
(workload, seed, trace).

For every (workload, metric) the tool prints both medians and quartiles,
the share of pairs B wins (ties count for neither side), and a verdict:

* ``improved``   -- B wins at least 9 of 10 pairs and the medians differ by
  more than A's own quartile spread;
* ``worse``      -- B's median is worse than A's by more than the metric's
  bound (end-to-end metrics; per-layer metrics have no bound and are
  judged by wins alone, mirrored);
* ``unresolved`` -- A's own quartile spread is wider than the bound, so a
  difference inside it cannot be told from noise;
* ``unchanged``  -- none of the above.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

WIN_SHARE = 0.9


def load_runs(path: str) -> dict[tuple[str, int, int], dict[str, float]]:
    """(workload, seed, trace) -> {metric: value} for every run file."""
    runs = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name)) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        report = next(
            (json.loads(ln[len("report "):]) for ln in lines if ln.startswith("report ")), None
        )
        if report is None:
            continue
        result = json.loads(lines[-1])
        key = (report["workload"], int(report["seed"]), int(report["trace"]))
        runs[key] = {k: v["value"] for k, v in result["metrics"].items()}
    return runs


def verdict(a: list[float], b: list[float], lower_better: bool, bound: float | None) -> dict:
    """Compare paired samples ``a[i]`` / ``b[i]`` of one metric."""
    sign = 1.0 if lower_better else -1.0
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
    losses = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    med_a, med_b = qa[1], qb[1]
    iqr_a = qa[2] - qa[0]
    spread_a = iqr_a / abs(med_a) if med_a else float("inf")
    worse_by = sign * (med_b - med_a) / abs(med_a) if med_a else 0.0
    n = len(a)
    if wins >= WIN_SHARE * n and abs(med_b - med_a) > iqr_a:
        v = "improved"
    elif bound is None:
        v = "worse" if losses >= WIN_SHARE * n and abs(med_b - med_a) > iqr_a else "unchanged"
    elif worse_by > bound:
        v = "worse"
    elif spread_a > bound:
        v = "unresolved"
    else:
        v = "unchanged"
    return {
        "pairs": n,
        "a_median": med_a,
        "a_q1": qa[0],
        "a_q3": qa[2],
        "b_median": med_b,
        "b_q1": qb[0],
        "b_q3": qb[2],
        "b_win_share": wins / n if n else 0.0,
        "verdict": v,
    }


def compare(runs_a, runs_b, spec: dict) -> list[dict]:
    direction = {m["name"]: m for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    rows = []
    groups = sorted({(w, t) for w, _, t in runs_a} & {(w, t) for w, _, t in runs_b})
    for workload, trace in groups:
        seeds = sorted(
            s for w, s, t in runs_a if (w, t) == (workload, trace) and (w, s, t) in runs_b
        )
        if not seeds:
            continue
        names = sorted(runs_a[(workload, seeds[0], trace)])
        for metric in names:
            a = [runs_a[(workload, s, trace)][metric] for s in seeds]
            b = [runs_b[(workload, s, trace)][metric] for s in seeds]
            m = direction.get(metric, {})
            row = verdict(a, b, m.get("better", "lower") == "lower", m.get("bound"))
            rows.append({"workload": workload, "metric": metric, **row})
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("runs_a")
    ap.add_argument("runs_b")
    ap.add_argument(
        "--benchmark",
        default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"),
    )
    ap.add_argument("--json", action="store_true", help="print rows as JSON lines")
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        spec = json.load(f)
    rows = compare(load_runs(args.runs_a), load_runs(args.runs_b), spec)
    if args.json:
        for r in rows:
            print(json.dumps(r))
        return 0
    print(f"{'workload':11s} {'metric':28s} {'A median [q1, q3]':>30s} "
          f"{'B median [q1, q3]':>30s} {'B wins':>7s}  verdict")
    for r in rows:
        a = f"{r['a_median']:.4g} [{r['a_q1']:.4g}, {r['a_q3']:.4g}]"
        b = f"{r['b_median']:.4g} [{r['b_q1']:.4g}, {r['b_q3']:.4g}]"
        print(f"{r['workload']:11s} {r['metric']:28s} {a:>30s} {b:>30s} "
              f"{r['b_win_share']:7.0%}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
