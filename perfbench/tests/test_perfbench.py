"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_per_seed():
    sizes = [50, 200]
    a = [gen.page_rows(r, 200, 1) for r in gen.slices(3, sizes)]
    b = [gen.page_rows(r, 200, 1) for r in gen.slices(3, sizes)]
    assert a == b
    assert gen.tag_rows(a[1]) == gen.tag_rows(b[1])
    # seeds that share a window share inputs; others get disjoint ids
    assert gen.slices(3 + gen.N_WINDOWS, sizes) == gen.slices(3, sizes)
    ids3 = {i for r in gen.slices(3, sizes) for i in r}
    ids4 = {i for r in gen.slices(4, sizes) for i in r}
    assert not ids3 & ids4
    c = [gen.page_rows(r, 200, 1) for r in gen.slices(4, sizes)]
    assert {row[0] for row in a[1]}.isdisjoint({row[0] for row in c[1]})


def test_warmup_and_timed_slices_are_disjoint():
    warm, timed = gen.slices(7, [100, 400])
    assert warm.stop == timed.start and len(timed) == 400


def test_every_window_has_recorded_digests():
    recorded = checks.load_recorded()
    for w in _bench_json()["workloads"]:
        got = recorded.get(w["name"], {})
        assert sorted(got) == sorted(str(i) for i in range(gen.N_WINDOWS))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_digest_check_rejects_perturbed_output(spark):
    rows = [("u1", "HAS_EMAIL", "a@x.org"), ("u2", "HAS_PHONE", "555-100-0000")]
    cols = "subj string, pred string, obj string"
    good = checks.digest(spark.createDataFrame(rows, cols))
    shuffled = checks.digest(spark.createDataFrame(rows[::-1], cols))
    assert good == shuffled  # order-invariant
    recorded = {"w": {"0": {"triples": good}}}
    assert checks.compare_digests(recorded, "w", 0, {"triples": shuffled}) == []
    for bad_rows in (
        [rows[0], ("u2", "HAS_PHONE", "555-100-0001")],  # one value changed
        rows[:1],  # one row lost
        rows + [rows[0]],  # one row duplicated
    ):
        bad = checks.digest(spark.createDataFrame(bad_rows, cols))
        assert checks.compare_digests(recorded, "w", 0, {"triples": bad}) == ["triples"]
    # an unrecorded window never passes
    assert checks.compare_digests(recorded, "w", 1, {"triples": good}) == ["triples"]


def test_graph_oracles_on_a_small_graph():
    # triangle a-b-c plus a pendant edge c-d
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    assert checks.kcore_oracle(edges, 2) == {"a": 2, "b": 2, "c": 2}
    assert checks.truss_oracle(edges, 3) == {
        ("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1,
    }


def _fake_run_tracer():
    tracer = spans.Tracer("t", traced=False, capture=None)
    with tracer.span("run"):
        with tracer.span("setup"):
            with tracer.span("session.start"):
                pass
            with tracer.span("warmup"):
                pass
        with tracer.span("pass"):
            with tracer.span("kg_update.batch"):
                pass
    return tracer


def test_printed_metric_names_are_declared():
    bench = _bench_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    tracer = _fake_run_tracer()

    class _Sampler:
        peak = 2**30

    class _Capture:
        total = 0

    printed_e2e = run.end_to_end_metrics(tracer)
    assert set(printed_e2e) == set(e2e)
    for w in (None, {"kg.stages": {}, "kg.stage_windows": {}}):
        printed_layers = run.layer_metrics(
            tracer, w or {}, {"jobs": {}}, _Capture(), _Sampler()
        )
        assert set(printed_layers) == set(per_layer)


def test_self_time_and_coverage():
    tracer = spans.Tracer("t", traced=False, capture=None)
    parent = spans.Span("p", 0.0, None, "t", end=10.0)
    a = spans.Span("a", 1.0, 0, "t", end=4.0)
    b = spans.Span("b", 3.0, 0, "t", end=6.0)  # overlaps a
    tracer.spans = [parent, a, b]
    assert tracer.self_seconds(parent) == pytest.approx(5.0)
    assert tracer.coverage(parent) == pytest.approx(0.5)


def test_event_log_attribution_to_innermost_span():
    tracer = spans.Tracer("t", traced=False, capture=None)
    tracer.spans = [
        spans.Span("pass", 0.0, None, "t", end=10.0),
        spans.Span("kg.run", 2.0, 0, "t", end=8.0),
    ]
    log = {
        "jobs": {
            0: {"start": 1.0, "end": 1.5, "stages": [0]},
            1: {"start": 3.0, "end": 5.0, "stages": [1, 0]},
        },
        "stage_job": {0: 0, 1: 1},
        "stages": {
            0: dict(spans._zero(), tasks=4, stages=1),
            1: dict(spans._zero(), tasks=2, stages=1),
        },
    }
    spans.attribute_event_log(tracer, log)
    outer, inner = tracer.spans
    assert (outer.engine["jobs"], inner.engine["jobs"]) == (1, 1)
    # stage 0 is reused (skipped) by job 1: counted once, for job 0
    assert (outer.engine["tasks"], inner.engine["tasks"]) == (4, 2)
    assert tracer.engine_total(outer, "tasks") == 6
    assert spans.driver_gap_seconds(tracer, outer) == pytest.approx(7.5)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _bench_json()["command"] + [
        "--workload", "kg_refresh", "--seed", "0", "--seconds", "1", "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
