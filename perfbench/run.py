"""The repository benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Each workload (see README.md for why each exists and which layer it
stresses) is one client in a closed loop over a fixed list of registry
entries. Each pass runs every entry once, in an order drawn from
``--seed``, and collects its result to the driver.

Set-up is timed as ``setup_s``: session start plus one warm pass (every
entry once, as the measured passes run it). Every end-to-end time is wall
time with the host's CPU steal taken out (``Stopwatch``); the report line
also gives the raw wall times. After the last measured pass, outside
every timer, the results that pass collected are compared with each
entry's DuckDB oracle (``verify.compare``, the comparison
``verify.verify_query`` makes). Errors and mismatches are counted in
``failed`` and the JSON line is printed regardless.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
library's layers (``layers.py``), records Spark's event log, and prints the
per-layer metrics; it makes at least four passes, the first and last of
every four with the wrappers switched off, so ``trace.overhead_s`` is the
same session's traced minus untraced pass time, and a pass time still
falling as the session warms favours neither side.

The input tables are the repository's sf0.01 test tables (``data/sf0.01``).
Everything the run writes stays under ``.perfbench/`` in the checkout.
The last stdout line is the JSON result; the line before it is a
human-readable report (sample counts, the tail percentile, per-entry
medians, failures, probe drift).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import threading
import time
from contextlib import nullcontext
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402

# Catalyst/AQE entries with no Python workers (dq07 and dq09 go through
# operators.core) and curation entries that spend their time in functions.*
RELATIONAL = ["dq07", "dq09", "dq21", "dq22", "ex_shipping_priority"]
CURATION = ["ex_neardup_jaccard", "ex_semdedup"]
REPLAY = ["st_override_asof", "st_command_plane", "st_sink_roundtrip"]
CLOSED = {"batch": RELATIONAL + CURATION, "replay": REPLAY}
# Pass wall time of each closed loop on a quiet 4-core machine. A run makes
# as many passes as --seconds holds at this nominal time, at least one, so
# the amount of work measured never depends on how fast the code under
# test happens to be.
NOMINAL_PASS_S = {"batch": 5.8, "replay": 5.2}
PROBE = "dq13"  # cheap fixed entry drawn between passes (drift sentinel)
PROBE_DRIFT = 2.0  # probe max/median above this marks the run contaminated
TAIL_WANT = 90  # the tail percentile the report line aims for

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_slowest_s": "s",
    "peak_rss_mb": "MB",
}
LAYERS = (
    "bench", "execute", "queries", "tables", "operators.core",
    "functions.dedup", "functions.similarity", "functions.text",
    "streaming.sources", "streaming.pipeline", "streaming.state",
    "streaming.jobs", "streaming.sinks",
)
SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.python_eval_s",
    "spark.idle_s",
)


def per_layer_names() -> list[str]:
    import sparklog

    names = [f"{layer}.{k}" for layer in LAYERS for k in ("calls", "self_s", "jobs")]
    names += ["entry.construct_s", "entry.execute_s", *SPARK_METRICS]
    names += list(sparklog.progress_totals([]))
    names += ["trace.pass_s", "trace.overhead_s", "trace.unaccounted_s"]
    return names


# --- process environment ----------------------------------------------------


def prepare_env() -> str:
    """Point every scratch location at the checkout and size Spark to this
    machine. Returns the per-run scratch directory."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the library's default (24g) does not fit a 15 GB machine
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("ESPK_STREAM_STATE_PARTITIONS", None)
    os.environ.pop("ESPK_RESULT_SINK", None)
    return run_dir


def start_session(run_dir: str, trace: bool):
    from espkinesis_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        import sparklog

        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update(sparklog.eventlog_conf(os.path.join(run_dir, "eventlog")))
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- fall through to the reaper
            pass
    reap_children()


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def _tree(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def reap_children() -> None:
    """Terminate and wait for anything this process still has running."""
    pids = [p for p in _tree(os.getpid()) if p != os.getpid()]
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + 10
    for p in pids:
        while time.time() < deadline:
            try:
                done, _ = os.waitpid(p, os.WNOHANG)
            except ChildProcessError:  # not our direct child; poll /proc
                if not os.path.exists(f"/proc/{p}"):
                    break
                done = 0
            if done:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers), sampled from /proc."""

    def __init__(self, every: float = 0.5):
        super().__init__(daemon=True)
        self.every = every
        self.peak_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        total = 0
        for p in _tree(os.getpid()):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._halt.wait(self.every):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot, from /proc/stat.
    Stolen ticks are those a CPU wanted to run but the hypervisor gave to
    other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    v += [0] * (8 - len(v))
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def steal_s() -> float:
    """Stolen CPU time since boot, summed over all CPUs; its growth over a
    run is a sign of a busy host."""
    return cpu_ticks()[1] / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall time since creation, raw and with the host's CPU steal taken out.

    On a shared host the hypervisor can withhold a CPU from this machine
    while it has work to run; the work then takes longer by the stolen share
    of its runnable time. ``read`` scales the wall time by busy / (busy +
    stolen) ticks over the interval, which is the wall time the same work
    takes when no CPU is withheld."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.busy, self.steal = cpu_ticks()

    def read(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t
        busy, steal = cpu_ticks()
        b, s = busy - self.busy, steal - self.steal
        return wall, (wall * b / (b + s) if b + s > 0 else wall)


# --- closed loop ------------------------------------------------------------


def run_closed(spark, entries, args, tracer, clock0, session_s):
    """Warm pass (the end of set-up), the measured passes with the probe
    entry drawn before, between and after them, then the output check."""
    from espkinesis_spark import oracles, queries, verify

    registry = queries.registry()
    data_dir = args.data_dir
    failed: dict[str, str] = {}
    results = {}  # entry -> its result as the last pass collected it

    def run(name):
        return registry[name](spark, data_dir).toPandas()

    def timed(name):
        t = time.perf_counter()
        run(name)
        return time.perf_counter() - t

    for name in entries:
        try:
            run(name)
        except Exception as exc:  # noqa: BLE001 -- counted, never fatal
            failed.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
    run(PROBE)
    setup_wall, setup_s = clock0.read()

    n_passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    if tracer:
        # untraced and traced passes in the order U T T U, so a pass time
        # still falling as the session warms favours neither side
        n_passes = max(4, n_passes)
    rng = random.Random(args.seed)
    probes, passes, samples = [], [], []
    per_entry: dict[str, list[float]] = {}
    construct, execute = [], []
    windows = []  # (traced?, wall start, wall end)
    for _ in range(n_passes):
        probes.append(timed(PROBE))
        order = entries[:]
        rng.shuffle(order)
        traced = bool(tracer) and len(passes) % 4 in (1, 2)
        if tracer:
            tracer.enabled = traced
        w0 = time.time()
        pass_clock = Stopwatch()
        with _span(tracer, "pass", "bench"):
            for name in order:
                with _span(tracer, name, "bench", request=f"{len(passes)}:{name}"):
                    clock = Stopwatch()
                    t = time.perf_counter()
                    try:
                        df = registry[name](spark, data_dir)
                        t_built = time.perf_counter()
                        with _span(tracer, "execute", "execute"):
                            results[name] = df.toPandas()
                    except Exception as exc:  # noqa: BLE001
                        failed.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
                        t_built = time.perf_counter()
                    t_end = time.perf_counter()
                _, took = clock.read()
                samples.append(took)
                per_entry.setdefault(name, []).append(took)
                construct.append(t_built - t)
                execute.append(t_end - t_built)
        passes.append((traced, *pass_clock.read()))
        windows.append((traced, w0, time.time()))
        if tracer:
            tracer.enabled = False
    probes.append(timed(PROBE))

    # the output check: what the last pass collected against the oracle
    c0 = time.perf_counter()
    con = verify.duck_connection(data_dir)
    for name, got in results.items():
        collected = SimpleNamespace(toPandas=lambda got=got: got)
        try:
            verify.compare(collected, con.execute(oracles.ORACLES[name]).df())
        except Exception as exc:  # noqa: BLE001 -- counted, never fatal
            failed.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
    con.close()
    check_s = time.perf_counter() - c0

    measured = [p for _, _, p in passes]
    untraced = [p for t, _, p in passes if not t]
    traced_p = [p for t, _, p in passes if t]
    entry_med = {k: stats.median(v) for k, v in sorted(per_entry.items())}
    pct, tail_v = stats.tail(samples, TAIL_WANT)
    attempted = len(entries)
    result = {
        "setup_s": setup_s,
        "pass_s": stats.median(untraced if tracer else measured),
        "query_p50_s": stats.median(samples),
        "query_slowest_s": max(entry_med.values()),
    }
    report = {
        "passes": len(passes),
        "pass_times_s": [round(p, 4) for p in measured],
        "pass_wall_s": [round(w, 4) for _, w, _ in passes],
        "setup_wall_s": round(setup_wall, 3),
        "samples": len(samples),
        "query_tail": {"percentile": pct, "value_s": round(tail_v, 4)},
        "slowest_entry": max(entry_med, key=entry_med.get),
        "session_s": round(session_s, 3),
        "warm_s": round(setup_wall - session_s, 3),
        "check_s": round(check_s, 3),
        "failed_frac": len(failed) / attempted,
        "failures": failed,
        "entry_s": {k: round(v, 4) for k, v in entry_med.items()},
        "probe_s": [round(p, 4) for p in probes],
        "probe_max_over_median": round(max(probes) / stats.median(probes), 3),
    }
    report["contaminated"] = report["probe_max_over_median"] > PROBE_DRIFT
    layer_extra = {
        "entry.construct_s": sum(construct) / len(passes),
        "entry.execute_s": sum(execute) / len(passes),
    }
    if tracer:
        # the spans cover raw wall time, so the traced pass they add up to
        # is raw too; the overhead compares like with like, steal taken out
        layer_extra["trace.pass_s"] = stats.median([w for t, w, _ in passes if t])
        layer_extra["trace.overhead_s"] = stats.median(traced_p) - stats.median(untraced)
    return result, report, attempted, len(failed), windows, layer_extra


def _span(tracer, name, layer, request=None):
    return tracer.span(name, layer, request) if tracer else nullcontext()


# --- traced-run accounting --------------------------------------------------


def _progress_time(p: dict) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def layer_metrics(tracer, windows, run_dir) -> dict[str, float]:
    """Per-layer figures over the traced windows, per traced pass."""
    import layers
    import sparklog

    traced = [(a, b) for t, a, b in windows if t]
    n = max(1, len(traced))
    inside = lambda t: any(a <= t <= b for a, b in traced)  # noqa: E731
    spans = [s for s in tracer.spans if inside(s.start)]
    out: dict[str, float] = {}
    totals = layers.layer_totals(spans)
    by_id = {s.id: s for s in tracer.spans}
    for layer in LAYERS:
        row = totals.get(layer, {"calls": 0, "self_s": 0.0})
        out[f"{layer}.calls"] = row["calls"] / n
        out[f"{layer}.self_s"] = row["self_s"] / n
        out[f"{layer}.jobs"] = 0.0

    log = sparklog.read(os.path.join(run_dir, "eventlog"))
    jobs = [j for j in log.jobs if inside(j.submit)]
    for j in jobs:
        s = by_id.get(int(j.span)) if j.span else layers.innermost_at(spans, j.submit)
        layer = s.layer if s is not None else "bench"
        out[f"{layer}.jobs"] = out.get(f"{layer}.jobs", 0.0) + 1.0 / n
    stages = {sid for j in jobs for sid in j.stages}
    out["spark.jobs"] = len(jobs) / n
    out["spark.stages"] = len(stages) / n
    for k in sparklog.TASK_FIELDS:
        out[f"spark.{k}"] = sum(j.cost[k] for j in jobs) / n
    entry_spans = [s for s in spans if s.request and s.layer == "bench" and s.name != "pass"]
    idle = 0.0
    for s in entry_spans:
        ivs = [(j.submit, j.end) for j in jobs if s.start <= j.submit <= s.end]
        idle += (s.end - s.start) - sparklog.covered_s(ivs, s.start, s.end)
    out["spark.idle_s"] = idle / n
    progress = [p for p in log.progress if inside(_progress_time(p))]
    for k, v in sparklog.progress_totals(progress).items():
        out[k] = v / n
    pass_spans = [s for s in spans if s.name == "pass"]
    if pass_spans:
        wall = sum(s.end - s.start for s in pass_spans)
        out["trace.unaccounted_s"] = (wall - sum(totals[x]["self_s"] for x in totals)) / n
    return out


# --- main -------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(CLOSED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", default=DATA_DIR, help="input tables (default: %(default)s)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "espkinesis_spark")):
        print(f"perfbench: no espkinesis_spark package in {ROOT}", file=sys.stderr)
        return 2
    at_start = os.getloadavg()[0], steal_s()

    run_dir = prepare_env()
    try:
        return _run(args, run_dir, at_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, at_start: tuple[float, float]) -> int:
    rss = RssSampler()
    rss.start()
    clock0 = Stopwatch()
    tracer = None
    if args.trace:
        import layers

        tracer = layers.Tracer()
        layers.install(tracer)
    spark = start_session(run_dir, bool(args.trace))
    session_s = clock0.read()[0]
    try:
        if tracer:
            tracer.attach(spark.sparkContext)
        out = run_closed(spark, CLOSED[args.workload], args, tracer, clock0, session_s)
        result, report, attempted, failed, windows, layer_extra = out
    finally:
        s0 = time.perf_counter()
        stop_session(spark)
        peak_mb = rss.stop()
        stop_s = time.perf_counter() - s0
    result["peak_rss_mb"] = peak_mb

    if args.trace:
        import layers

        metrics = layer_metrics(tracer, windows, run_dir)
        metrics.update(layer_extra)
        report["spans"] = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        layers.dump(tracer.spans, report["spans"])
        out_metrics = {
            n: {"value": float(metrics.get(n, 0.0)), "unit": _unit(n)} for n in per_layer_names()
        }
    else:
        out_metrics = {n: {"value": float(result[n]), "unit": u} for n, u in END_TO_END.items()}
    report.update(stop_s=round(stop_s, 3), workload=args.workload, seed=args.seed, trace=args.trace,
                  loadavg_1m=[round(at_start[0], 2), round(os.getloadavg()[0], 2)],
                  steal_s=round(steal_s() - at_start[1], 2))
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out_metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
