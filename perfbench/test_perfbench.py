"""Tests of the benchmark itself: its output checker, its seeded inputs and
its tracer. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(os.path.join(tmp, "local"))
    os.makedirs(os.path.join(tmp, "jvm-tmp"))
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")}
    os.environ["TMPDIR"] = os.path.join(tmp, "jvm-tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    session = run.start_session(tmp)
    yield session
    session.stop()
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def _workload(spark, tmp_path, name, seed, tag):
    cls = workloads.WORKLOADS[name]
    return cls(spark, str(tmp_path / tag), tag, seed,
               str(tmp_path / f"cache-{seed}"), size=cls.small_size)


def _corrupt(wl):
    """Falsify one expected value of the workload's first DAG run."""
    if isinstance(wl, workloads.BulkCsv):
        wl.expect["big_us"] += 1
    elif isinstance(wl, workloads.DailySmall):
        original = wl._day_expect

        def wrong(i):
            exp = dict(original(i))
            exp["nulls"] = [n + 1 for n in exp["nulls"]]
            return exp

        wl._day_expect = wrong
    else:
        original = wl._batch

        def wrong(i):
            path, exp = original(i)
            return path, dict(exp, survivors=exp["survivors"][1:])

        wl._batch = wrong


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_corrupted_expectation_turns_wrong_ratio_positive(spark, tmp_path, name):
    wl = _workload(spark, tmp_path, name, 5, "corrupt")
    _corrupt(wl)
    st = run.measure(wl, 0)
    assert st.failed == 0
    assert st.wrong == st.attempted == 1


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_two_seeds_give_different_inputs_and_the_same_verdict(spark, tmp_path, name):
    stats, inputs = [], []
    for seed in (1, 2):
        wl = _workload(spark, tmp_path, name, seed, f"seed{seed}")
        stats.append(run.measure(wl, 0))
        cache = str(tmp_path / f"cache-{seed}")
        inputs.append({f: os.path.join(cache, f) for f in os.listdir(cache)
                       if not f.endswith(".json")})
    landed = sorted(set(inputs[0]) & set(inputs[1]) - {"benchmark.parquet"})
    assert landed
    for f in landed:
        assert not filecmp.cmp(inputs[0][f], inputs[1][f], shallow=False)
    for st in stats:
        assert (st.attempted, st.failed, st.wrong) == (1, 0, 0)


def test_daily_days_without_a_file_take_the_not_found_branch(spark, tmp_path):
    wl = _workload(spark, tmp_path, "etl_daily_small", 3, "gaps")
    gap = next(i for i in range(1, 100) if not wl.has_file(i))
    for i in range(gap + 1):
        wl.land(i)
        assert wl.trigger(i) == wl.expected_result(i)
        assert wl.check(i) == []
    assert wl.expected_result(gap) == "Not found"


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_traced_run_reports_only_the_layers_the_workload_uses(spark, tmp_path, name):
    wl = _workload(spark, tmp_path, name, 4, "traced")
    tracer = tracing.Tracer(spark)
    tracer.install(wl.registry)
    try:
        st = run.measure(wl, 0, tracer)
    finally:
        tracer.uninstall()
    assert (st.failed, st.wrong, len(st.traced_job_s)) == (0, 0, 1)
    layers = tracer.summary(st.job_s)
    assert set(layers) == {m for m, _ in tracing.LAYER_METRICS}
    csv_side = ["sources.csv_source.lines_in", "operators.coerce.cells",
                "sinks.writer.calls", "plans.load_query.busy_s"]
    curation_side = ["operators.dedup.rows_out", "sinks.snapshots.files_written",
                     "orchestrate.curation_services.stage_s"]
    used, unused = (curation_side, csv_side) if name == "curation_wap" else (csv_side, curation_side)
    assert all(layers[m] > 0 for m in used)
    assert all(layers[m] == 0 for m in unused)
    assert layers["session.spark_jobs"] > 0 and layers["trace.overhead_ratio"] > 0


def test_py_coerce_follows_the_reference_cell_rules():
    assert workloads.py_coerce(" 42 ", "INTEGER") == 42
    assert workloads.py_coerce("12.5", "INTEGER") is None
    assert workloads.py_coerce("NA", "FLOAT") is None
    assert workloads.py_coerce("-Infinity", "FLOAT") == float("-inf")
    assert workloads.py_coerce("", "TIMESTAMP") is None
    day_first = workloads.py_coerce("5/9/2021", "TIMESTAMP")
    assert day_first == workloads.py_coerce("2021-09-05", "TIMESTAMP")
    assert day_first == workloads.py_coerce("20210905", "TIMESTAMP")
    assert workloads.py_coerce("", "STRING") == ""


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert run.tail_percentile([1.0] * 19) is None
    assert run.tail_percentile(list(range(40)))[0] == 75
    assert run.tail_percentile(list(range(1000)))[0] == 99


def test_benchmark_json_matches_the_metrics_the_benchmark_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == tracing.LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
