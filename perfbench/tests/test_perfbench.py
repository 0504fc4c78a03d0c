"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import sparklog  # noqa: E402
import stats  # noqa: E402

# --- percentile rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n,want,expected",
    [
        (2000, 99, 99.0),  # 20 samples beyond p99
        (1000, 99, 99.0),  # exactly 10 beyond
        (999, 99, 98.0),  # p99 would leave 9.99
        (100, 90, 90.0),
        (99, 90, 89.0),
        (26, 90, 61.0),
        (16, 90, 50.0),  # too few for any tail: the median
        (0, 90, 50.0),
    ],
)
def test_tail_percentile_cases(n, want, expected):
    assert stats.tail_percentile(n, want) == expected


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(21, 3000):
        p = stats.tail_percentile(n, 99)
        assert n * (1 - p / 100) >= stats.MIN_BEYOND - 1e-9
        if p < 99:  # one whole percent higher would leave fewer than ten
            assert n * (1 - (p + 1) / 100) < stats.MIN_BEYOND


def test_interpolated_percentile_and_tail():
    xs = [float(x) for x in range(1, 101)]
    assert stats.percentile(xs, 50) == pytest.approx(50.5) == stats.median(xs)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 99) == 3.0
    assert stats.tail(xs, 99) == (90.0, pytest.approx(90.1))
    # too few samples for a tail: it reads the median, never below it
    two_entries = [1.5, 1.6, 1.7, 2.5, 2.6, 2.7]
    assert stats.tail(two_entries, 90) == (50.0, stats.median(two_entries))


def test_quartiles_match_statistics_module():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    import statistics

    assert stats.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))


# --- spans and self time ----------------------------------------------------


def _span(i, layer, start, end, parent):
    return layers.Span(i, f"s{i}", layer, start, end, parent, "r")


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, "bench", 0.0, 10.0, None),
        _span(2, "queries", 1.0, 4.0, 1),
        _span(3, "tables", 2.0, 3.0, 2),
        _span(4, "execute", 5.0, 9.0, 1),
    ]
    own = layers.self_times(spans)
    assert own == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0}
    assert sum(own.values()) == 10.0  # nothing counted twice
    totals = layers.layer_totals(spans)
    assert totals["queries"] == {"calls": 1, "self_s": 2.0}
    assert layers.innermost_at(spans, 2.5).id == 3
    assert layers.innermost_at(spans, 4.5).id == 1
    assert layers.innermost_at(spans, 11.0) is None


class _FakeContext:
    def __init__(self):
        self.calls = []

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_tracer_nests_and_tags_jobs_only_on_layer_change():
    tracer = layers.Tracer()
    sc = _FakeContext()
    tracer.attach(sc)
    tracer.enabled = True
    with tracer.span("pass", "bench", request="0:x"):
        with tracer.span("f", "queries"):
            with tracer.span("g", "queries"):  # same layer: no new tag
                pass
            with tracer.span("h", "tables"):
                pass
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["g"].parent == by_name["f"].id
    assert by_name["h"].request == "0:x"
    tags = [v for _, v in sc.calls]
    f, h, p = str(by_name["f"].id), str(by_name["h"].id), str(by_name["pass"].id)
    assert tags == [p, f, h, f, p, None]
    own = layers.self_times(tracer.spans)
    total = by_name["pass"].end - by_name["pass"].start
    assert sum(own.values()) == pytest.approx(total, abs=1e-9)


def test_disabled_tracer_records_nothing_and_pickles_disabled():
    import pickle

    tracer = layers.Tracer()
    with tracer.span("x", "bench"):
        pass
    assert tracer.spans == []
    tracer.enabled = True
    clone = pickle.loads(pickle.dumps(tracer))
    assert clone.enabled is False and clone.spans == []


# --- event log --------------------------------------------------------------


def _recorded():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        return sparklog.parse_lines(f)


def test_event_log_jobs_tasks_and_tags():
    log = _recorded()
    assert [j.id for j in log.jobs] == [2, 4, 7]
    assert [j.span for j in log.jobs] == ["7", "8", None]
    j2, j4, j7 = log.jobs
    assert j2.stages == [2, 3] and j2.cost["tasks"] == 1
    assert j4.cost["tasks"] == 2
    assert j4.cost["task_run_s"] == pytest.approx(0.469)
    assert j4.end - j4.submit == pytest.approx(0.544)
    # the mapInPandas job: two tasks' Python worker run time, in ms
    assert j7.cost["python_eval_s"] == pytest.approx(3.7)
    assert j2.cost["python_eval_s"] == 0


def test_event_log_streaming_progress():
    log = _recorded()
    assert len(log.progress) == 1
    tot = sparklog.progress_totals(log.progress)
    assert tot["stream.batches"] == 1
    assert tot["stream.input_rows"] == 10000
    assert tot["stream.trigger_s"] == pytest.approx(1.297)
    assert tot["stream.add_batch_s"] == pytest.approx(0.733)
    assert tot["state.rows_total"] == 750
    assert tot["state.partitions"] == 1
    assert tot["state.commit_s"] == pytest.approx(0.055)


def test_covered_time_is_the_union_of_job_intervals():
    assert sparklog.covered_s([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert sparklog.covered_s([(-5, 1), (9, 20)], 0, 10) == 2
    assert sparklog.covered_s([], 0, 10) == 0


# --- steal-adjusted stopwatch -----------------------------------------------


def test_stopwatch_takes_out_the_stolen_share(monkeypatch):
    from types import SimpleNamespace

    import run

    ticks = iter([(1000, 50), (1300, 150), (1600, 150)])  # +300 busy +100 stolen, then +300 +0
    clock = iter([10.0, 14.0, 16.0])
    monkeypatch.setattr(run, "cpu_ticks", lambda: next(ticks))
    monkeypatch.setattr(run, "time", SimpleNamespace(perf_counter=lambda: next(clock)))
    sw = run.Stopwatch()
    assert sw.read() == (4.0, 3.0)  # a quarter of the runnable time was stolen
    sw.busy, sw.steal, sw.t = 1300, 150, 14.0
    assert sw.read() == (2.0, 2.0)  # nothing stolen: the wall time as is


# --- A/B verdicts -----------------------------------------------------------


def test_compare_verdicts():
    import compare

    a = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    faster = [x * 0.8 for x in a]
    slower = [x * 1.3 for x in a]
    assert compare.verdict(a, faster, True, 0.1)["verdict"] == "improved"
    assert compare.verdict(a, faster, False, 0.1)["verdict"] == "worse"  # higher is better
    assert compare.verdict(a, slower, True, 0.1)["verdict"] == "worse"
    assert compare.verdict(a, list(a), True, 0.1)["verdict"] == "unchanged"
    noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(noisy, [x * 1.05 for x in noisy], True, 0.1)["verdict"] == "unresolved"
    row = compare.verdict(a, faster, True, 0.1)
    assert row["pairs"] == 10 and row["b_win_share"] == 1.0
    # per-layer metrics have no bound: judged by wins alone
    assert compare.verdict(a, slower, True, None)["verdict"] == "worse"
    assert compare.verdict(a, list(a), True, None)["verdict"] == "unchanged"
