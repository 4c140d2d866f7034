"""tools/ab_pairs.py: the verdict arithmetic of the benchmark rule on fixed
numbers, the pairing of runs by seed and the recording of a timed-out run;
no Spark."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import ab_pairs  # noqa: E402
from ab_pairs import summarize, verdict  # noqa: E402

PARENT = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]


def test_gain_needs_nine_tenths_and_a_gap_beyond_the_parent_iqr():
    change = [p - 1.0 for p in PARENT]
    v = verdict(PARENT, change, 0.25, "lower")
    assert v["verdict"] == "gain", v
    assert v["change_wins"] == 10 and v["change_losses"] == 0
    assert v["parent_q1_median_q3"] == [9.925, 10.0, 10.1]
    assert v["worse_by"] == -0.1
    # 8 wins of 10 is below nine tenths: no gain, and no regression
    mixed = change[:8] + [p + 0.1 for p in PARENT[8:]]
    assert verdict(PARENT, mixed, 0.25, "lower")["verdict"] == "same"
    # all 10 wins, but a 0.05 s gap is inside the parent's 0.175 s IQR
    close = [p - 0.05 for p in PARENT]
    assert verdict(PARENT, close, 0.25, "lower")["verdict"] == "same"


def test_worse_is_the_median_beyond_the_bound_either_direction():
    slow = [p * 1.3 for p in PARENT]
    v = verdict(PARENT, slow, 0.25, "lower")
    assert v["verdict"] == "worse" and v["worse_by"] == 0.3, v
    assert verdict(PARENT, [p * 1.2 for p in PARENT], 0.25, "lower")[
        "verdict"] == "same"
    # for a higher-is-better metric a 30 % drop is the regression
    assert verdict(PARENT, [p * 0.7 for p in PARENT], 0.25, "higher")[
        "verdict"] == "worse"


def test_unresolved_when_the_spread_exceeds_the_bound():
    wide = [5.0, 15.0, 6.0, 14.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]
    v = verdict(PARENT, wide, 0.25, "lower")
    assert v["spread"] > 0.25 and v["verdict"] == "unresolved", v
    # unless every change run beats every parent run
    all_better = [x / 10 for x in wide]
    assert verdict(PARENT, all_better, 0.25, "lower")["verdict"] == "gain"
    assert verdict([1.0], [2.0], 0.25, "lower")["verdict"] == "too few pairs"


BENCH = {"end_to_end": [{"name": "wall_s", "better": "lower", "bound": 0.25}]}


def _pair(seed, wall_parent, wall_change, **over):
    return [
        dict({"seed": seed, "workload": "w", "side": side, "steal": 0.01,
              "correct": True, "attempted": 20, "failed": 0,
              "metrics": {"wall_s": x}}, **over.get(side, {}))
        for side, x in (("parent", wall_parent), ("change", wall_change))
    ]


def test_summarize_pairs_by_seed_and_splits_low_steal():
    runs = []
    for i, p in enumerate(PARENT):
        runs += _pair(i, p, p - 1, parent={"steal": 0.2} if i == 0 else {})
    # a seed whose change run failed forms no pair
    runs += _pair(99, 1.0, 0.0, change={"returncode": 1, "metrics": None})
    out = summarize(runs, BENCH)["w"]
    assert out["metrics"]["wall_s"]["all"]["pairs"] == 10
    assert out["metrics"]["wall_s"]["all"]["verdict"] == "gain"
    assert out["metrics"]["wall_s"]["low_steal"]["pairs"] == 9
    assert out["dropped"] == {"incomplete": 1, "incorrect": 0,
                              "more_failed": 0}


def test_wrong_or_more_failing_pairs_leave_the_verdict():
    runs = []
    for i, p in enumerate(PARENT):
        runs += _pair(i, p, p - 1)
    # fast but wrong change runs, or ones failing more operations than the
    # parent, would make the gain; they are counted apart instead
    runs += _pair(20, 10.0, 1.0, change={"correct": False})
    runs += _pair(21, 10.0, 1.0, parent={"correct": False})
    runs += _pair(22, 10.0, 1.0, change={"failed": 3})
    # an equal failed share keeps the pair
    runs += _pair(23, 10.0, 9.0, parent={"failed": 2}, change={"failed": 2})
    out = summarize(runs, BENCH)["w"]
    assert out["dropped"] == {"incomplete": 0, "incorrect": 2,
                              "more_failed": 1}
    v = out["metrics"]["wall_s"]["all"]
    assert v["pairs"] == 11 and v["change_wins"] == 11, v


def test_timed_out_run_is_recorded_as_failed(monkeypatch):
    def hang(cmd, **kw):
        raise subprocess.TimeoutExpired(cmd, kw["timeout"])

    monkeypatch.setattr(ab_pairs.subprocess, "run", hang)
    rec = ab_pairs._run(REPO, "w", 1, 30)
    assert rec["returncode"] is None and "metrics" not in rec
    assert "timed out" in rec["stderr_tail"]
    assert 0.0 <= rec["steal"] <= 1.0
