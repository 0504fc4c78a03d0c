"""The bench JSON line must keep its headline recoverable from EITHER end
of a truncated capture (VERDICT r6 #4: the r6 artifact survived only as a
tail string and lost its totals), its per-entry figures must be MINS over
each sampled entry's draws (VERDICT r12 #2b: BENCH_r12's own first pass
ran degraded — a 61s draw of an 11s entry — and single/median-blended
totals inherited the inflation), and the run must carry a contamination
sentinel series (VERDICT r12 #2a) so a poisoned pass is marked in the
artifact itself."""

import json
import os
import sys

import pytest

from bench import SENTINEL, build_output

# absolute, so bench_diff imports survive any cwd and test selection
# (a relative "tools" insert only worked from the repo root, and only
# for tests that ran after one that happened to insert it)
sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))


def _sample(sentinel_series=(0.11, 0.12, 0.1, 0.11)):
    timings = {f"q{i:03d}": 0.5 + i * 0.01 for i in range(120)}
    # 3 draws each for the 10 "heaviest": one noisy outlier per entry —
    # the min must shrug it off.
    samples = {n: [timings[n], timings[n] + 2.0, timings[n]] for n in list(timings)[:10]}
    return build_output(timings, {"qbad": "Boom"}, samples, "0.1", list(sentinel_series))


def test_headline_leads_and_tail_mirrors():
    out = _sample()
    keys = list(out)
    assert keys.index("value") < keys.index("queries")
    assert keys.index("n_queries") < keys.index("queries")
    # r16 VERDICT #2: the compact per-entry mirror sits at the line's end,
    # directly before the tail scalars, so a tail-only fragment carries
    # (a suffix of) the per-query figures the r15 fragment lost
    assert keys[-8] == "tail_queries"
    assert out["tail_queries"] == out["queries"]
    assert keys[-7:] == [
        "tail_total_sec",
        "tail_n_queries",
        "tail_n_errors",
        "tail_sentinel_max_over_median",
        "tail_sentinel_p90_over_median",
        "tail_sentinel_final_over_median",
        "tail_sentinel_contaminated",
    ]
    assert out["tail_total_sec"] == out["value"]
    assert out["tail_n_queries"] == out["n_queries"] == 120
    assert out["tail_n_errors"] == out["n_errors"] == 1
    # r13 ADVICE: the contamination verdict is mirrored into the tail so
    # the driver's ~2000-char tail fragment can prove its pass was clean
    assert out["tail_sentinel_contaminated"] == out["sentinel_contaminated"]
    assert (
        out["tail_sentinel_max_over_median"] == out["sentinel_max_over_median"]
    )
    # r14 VERDICT #3: the diagnosability pair is mirrored too
    assert (
        out["tail_sentinel_p90_over_median"] == out["sentinel_p90_over_median"]
    )
    assert (
        out["tail_sentinel_final_over_median"]
        == out["sentinel_final_over_median"]
    )


def test_totals_recoverable_from_either_truncated_end():
    line = json.dumps(_sample())
    # the driver keeps ~2000 chars of tail; 300 is the adversarial floor
    head, tail = line[:300], line[-300:]
    assert '"value":' in head and '"n_queries":' in head
    assert '"tail_total_sec":' in tail and '"tail_n_queries":' in tail
    # the contamination verdict must also survive a tail-only capture
    assert '"tail_sentinel_contaminated":' in tail
    assert '"tail_sentinel_max_over_median":' in tail


def test_tail_fragment_recovers_per_query_figures(tmp_path):
    """r16 VERDICT #2: a tail-only fragment must yield per-entry figures
    (from the end-positioned tail_queries mirror) through bench_diff's
    fragment recovery, so a truncated artifact still supports a
    per-query geomean next round."""
    from bench_diff import load

    sample = _sample()
    line = json.dumps(sample)
    # cut everything before the tail_queries mirror — the r15 failure mode
    frag = line[line.index('"tail_queries"'):]
    wrapped = {"n": 17, "rc": 0, "tail": frag, "parsed": None}
    wp = tmp_path / "frag.json"
    wp.write_text(json.dumps(wrapped))
    rec = load(str(wp))
    assert rec["coverage"].startswith("FRAGMENT")
    # all 120 per-entry figures recovered from the mirror alone
    assert len(rec["queries"]) == 120
    assert rec["queries"]["q000"] == pytest.approx(0.5)
    assert rec["scalars"]["tail_total_sec"] == pytest.approx(
        sample["tail_total_sec"]
    )
    assert rec["contaminated"] is False


def test_min_of_k_absorbs_contaminated_draws():
    out = _sample()
    # each sampled entry had draws [t, t+2.0, t] -> min == t, so the
    # headline per-entry figure and total must equal the outlier-free sum
    for i in range(10):
        name = f"q{i:03d}"
        assert out["queries"][name] == pytest.approx(
            out["first_pass"][name], abs=1e-4
        )
    assert out["value"] == pytest.approx(out["first_pass_total_sec"], abs=1e-2)
    # the injected outlier IS visible in the recorded noise estimate
    assert out["noise_rel_spread_median"] > 1.0
    assert out["noise_rel_spread_max"] >= out["noise_rel_spread_median"]
    assert out["sampled_entries_n"] == 10 and out["heavy_samples_k"] == 3


def test_min_of_k_beats_median_when_first_pass_is_degraded():
    # a uniformly-degraded FIRST pass (the BENCH_r12 signature): draws
    # [2t, t, t] -> median == t == min here, but [2t, 1.9t, t] -> median
    # 1.9t while min stays t — the headline must take the min.
    timings = {"heavy": 20.0, "light": 1.5, "tiny": 0.2}
    samples = {"heavy": [20.0, 19.0, 10.0], "light": [1.5, 1.0]}
    out = build_output(timings, {}, samples, "0.1", [0.1, 0.1])
    assert out["queries"]["heavy"] == 10.0
    assert out["queries"]["light"] == 1.0  # min of the 2-draw light sample
    assert out["value"] == pytest.approx(11.2)
    # r12-continuity medians blend ONLY k>=3 heavy entries: the light
    # entry contributes its FIRST-PASS time (median-of-2 would be 1.25)
    assert out["median_blended_total_sec"] == pytest.approx(19.0 + 1.5 + 0.2)
    assert out["first_pass_total_sec"] == pytest.approx(21.7)


def test_sentinel_series_marks_contamination():
    clean = _sample()
    assert clean["sentinel_entry"] == SENTINEL
    assert clean["sentinel_series"] == [0.11, 0.12, 0.1, 0.11]
    # median of [0.1, 0.11, 0.11, 0.12] is 0.11 -> 0.12/0.11
    assert clean["sentinel_max_over_median"] == pytest.approx(1.0909, abs=1e-3)
    assert clean["sentinel_contaminated"] is False
    poisoned = _sample(sentinel_series=(0.1, 0.11, 0.45, 0.12))
    assert poisoned["sentinel_contaminated"] is True
    # median of [0.1, 0.11, 0.12, 0.45] is 0.115 -> 0.45/0.115
    assert poisoned["sentinel_max_over_median"] == pytest.approx(3.913, abs=1e-3)


def test_sentinel_diagnosability_separates_spike_from_sustained_load():
    """r14 VERDICT #3: the r14 driver pass read max/median 2.76 while its
    total was the lowest ever recorded — one transient spike, but the
    artifact couldn't prove it. p90/median near 1 with a high max = a
    transient spike; p90 elevated too = sustained co-located load. The
    final/median ratio is the end-of-run re-draw: did the run END hot?"""
    # one spike mid-series, clean tail: p90 stays at the clean plateau
    spike = _sample(
        sentinel_series=(0.1, 0.11, 0.1, 0.12, 0.1, 0.45, 0.11, 0.1, 0.12, 0.1)
    )
    assert spike["sentinel_contaminated"] is True
    assert spike["sentinel_p90_over_median"] == pytest.approx(
        0.12 / 0.105, abs=1e-3
    )
    assert spike["sentinel_p90_over_median"] < 1.5  # reads as TRANSIENT
    assert spike["sentinel_final_over_median"] == pytest.approx(
        0.1 / 0.105, abs=1e-3
    )
    # load arriving late and persisting to the end (under half the series,
    # so the median still sits on the clean plateau): p90 rides the
    # elevated plateau and the end-of-run re-draw is still hot
    sustained = _sample(
        sentinel_series=(0.1, 0.11, 0.1, 0.12, 0.1, 0.1, 0.3, 0.32, 0.31, 0.33)
    )
    assert sustained["sentinel_contaminated"] is True
    assert sustained["sentinel_p90_over_median"] > 1.5  # reads as SUSTAINED
    assert sustained["sentinel_final_over_median"] > 1.5
    # clean run: both ratios hug 1
    clean = _sample()
    assert clean["sentinel_p90_over_median"] == pytest.approx(
        0.12 / 0.11, abs=1e-3
    )
    assert clean["sentinel_final_over_median"] == pytest.approx(1.0, abs=1e-3)


def test_failed_final_sentinel_draw_nulls_final_ratio():
    """ADVICE r15: sentinel() swallows draw failures, so if the END-OF-RUN
    re-draw fails, series[-1] is a mid-run draw — labeling it 'final'
    fabricates exactly the clean-ending evidence the metric exists to
    test. main() detects the failed append by series length and passes
    final_sentinel_drawn=False; the ratio (and its tail mirror) must then
    be null — absence distinguishable from clean."""
    out = build_output(
        {"q1": 1.0},
        {},
        {},
        "0.1",
        [0.1, 0.11, 0.1, 0.12],
        final_sentinel_drawn=False,
    )
    assert out["sentinel_final_over_median"] is None
    assert out["tail_sentinel_final_over_median"] is None
    # the rest of the sentinel verdict is unaffected by the missing draw
    assert out["sentinel_max_over_median"] is not None
    assert out["sentinel_p90_over_median"] is not None
    assert out["sentinel_contaminated"] is False


def test_empty_samples_do_not_break_output():
    out = build_output({"q1": 1.0}, {}, {}, "0.01")
    assert out["value"] == 1.0
    assert out["noise_rel_spread_median"] is None
    assert out["sentinel_max_over_median"] is None
    # a probe that never ran is UNKNOWN, not verified-clean
    assert out["sentinel_contaminated"] is None
    assert "errors" not in out


def test_bench_diff_handles_both_artifact_shapes(tmp_path):
    """tools/bench_diff.py must diff a FULL one-line artifact against the
    driver's tail-fragment wrapper: headline scalars recovered from the
    fragment, per-entry figures classified against the noise band (abs
    drift for sub-second entries), and a samples row recovered as its
    MIN (the r13 headline estimator)."""
    from bench_diff import diff, load

    full = {
        "value": 10.0,
        "tail_total_sec": 10.0,
        "tail_n_queries": 3,
        "tail_n_errors": 0,
        "sentinel_contaminated": False,
        "queries": {"big": 5.0, "mid": 2.0, "tiny": 0.2},
    }
    fp = tmp_path / "full.json"
    fp.write_text(json.dumps(full))
    wrapped = {
        "n": 13,
        "rc": 0,
        # "mid" appears TWICE (a first_pass figure before its samples row)
        # — recovery must keep the min regardless of key order
        "tail": '"mid": 2.1, "big": [4.4, 4.0, 4.2], "mid": [1.8, 2.0], '
        '"tiny": 0.25, "tail_total_sec": 9.9, "tail_n_queries": 3, '
        '"tail_n_errors": 0, "tail_sentinel_max_over_median": 1.31, '
        '"tail_sentinel_p90_over_median": 1.12, '
        '"tail_sentinel_final_over_median": 0.97, '
        '"tail_sentinel_contaminated": false}',
        "parsed": None,
    }
    wp = tmp_path / "wrapped.json"
    wp.write_text(json.dumps(wrapped))

    new, old = load(str(fp)), load(str(wp))
    assert new["coverage"].startswith("full")
    assert old["coverage"].startswith("FRAGMENT")
    assert old["queries"]["big"] == 4.0  # min of the samples row
    assert old["queries"]["mid"] == 1.8  # min across bare figure + samples
    assert old["scalars"]["tail_total_sec"] == 9.9
    # the fragment proves its own pass was clean (r13 ADVICE); the
    # sentinel mirrors are collapsed to their canonical non-tail names
    # (r14 ADVICE — the full shape otherwise printed each value twice)
    assert old["contaminated"] is False
    assert old["scalars"]["sentinel_max_over_median"] == 1.31
    assert old["scalars"]["sentinel_p90_over_median"] == 1.12
    assert old["scalars"]["sentinel_final_over_median"] == 0.97
    assert not any(k.startswith("tail_sentinel_") for k in old["scalars"])

    d = diff(new, old, band=0.2)
    assert d["compared"] == 3
    by_name = {r["entry"]: r for r in d["regressions"] + d["improvements"]}
    # big: 4.0 -> 5.0 is +25%, over the 20% band -> a reported regression
    assert by_name["big"]["rel"] == pytest.approx(0.25)
    # tiny drifted 0.25 -> 0.2 — sub-second entries classify by ABS drift
    # (<=0.5s is noise), so it must NOT be reported
    assert "tiny" not in by_name


def test_bench_diff_head_fragment_does_not_misread_scalars_as_queries(
    tmp_path,
):
    """r14 ADVICE: a fragment spanning the artifact HEAD carries the
    headline scalars (n_queries, sampled_entries_n, heavy_samples_k, sf,
    noise spreads) and the sentinel_series list before any per-entry map
    — none of those may be recovered as per-entry query figures."""
    from bench_diff import load

    head = {
        "n": 15,
        "rc": 0,
        "tail": '{"metric": "declared_query_total_wall", "value": 270.1, '
        '"unit": "sec", "sf": 0.1, "n_queries": 216, "n_errors": 0, '
        '"first_pass_total_sec": 280.2, "median_blended_total_sec": 275.0, '
        '"sampled_entries_n": 55, "heavy_samples_k": 3, '
        '"noise_rel_spread_median": 0.08, "noise_rel_spread_max": 1.9, '
        '"sentinel_entry": "dq13", '
        '"sentinel_series": [0.15, 0.16, 0.15, 0.14], '
        '"sentinel_max_over_median": 1.07, '
        '"sentinel_p90_over_median": 1.07, '
        '"sentinel_final_over_median": 0.93, '
        '"sentinel_contaminated": false, "loadavg_1m": 3.2, '
        '"queries": {"dq01": 0.41, "ex_pricing_summary": 1.2, "ex_trunc',
        "parsed": None,
    }
    hp = tmp_path / "head.json"
    hp.write_text(json.dumps(head))
    rec = load(str(hp))
    # only the genuine per-entry figures survive recovery (the pair cut
    # mid-name by the truncation is unrecoverable by design — its value
    # could itself be truncated)
    assert rec["queries"] == {"dq01": 0.41, "ex_pricing_summary": 1.2}
    assert rec["contaminated"] is False
    assert rec["scalars"]["value"] == 270.1
    assert rec["scalars"]["sentinel_p90_over_median"] == 1.07


def test_bench_diff_auto_orients_round_stamped_artifacts():
    """r15 VERDICT #7: bench_diff's arg order is NEW OLD with nothing
    preventing an inverted call — the judge tripped it once; inverted,
    regressions silently read as improvements. When BOTH filenames carry
    the driver's _rNN stamp, orientation is knowable: warn-and-swap if
    the first is older. Free-named local artifacts pass through — the
    usage line stays the contract there."""
    from bench_diff import orient

    # inverted driver pair -> swapped
    n, o, swapped = orient("BENCH_r14.json", "BENCH_r15.json")
    assert swapped and n == "BENCH_r15.json" and o == "BENCH_r14.json"
    # correct driver pair -> untouched
    n, o, swapped = orient("BENCH_r15.json", "BENCH_r14.json")
    assert not swapped and n == "BENCH_r15.json"
    # double-digit rounds compare numerically, not lexically
    n, o, swapped = orient("BENCH_r9.json", "BENCH_r10.json")
    assert swapped and n == "BENCH_r10.json"
    # unstamped paths (local runs) are never reordered
    n, o, swapped = orient("/tmp/a.json", "BENCH_r15.json")
    assert not swapped and n == "/tmp/a.json"
    n, o, swapped = orient("/tmp/new.json", "/tmp/old.json")
    assert not swapped
