"""Spark-free tests of the benchmark's output shape, metric names and helpers.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402
import steady  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import Op, Outcome, Reference, batches  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_catalogue():
    assert _bench() == metrics.benchmark_json()


def test_benchmark_json_meets_the_contract():
    doc = _bench()
    assert set(doc) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert 1 <= len(doc["paths"]) <= 16 and len(doc["command"]) <= 32
    assert 1 <= doc["run_seconds"] <= 60 and isinstance(doc["run_seconds"], int)
    assert 2 <= len(doc["workloads"]) <= 8
    assert 1 <= len(doc["end_to_end"]) <= 16 and 1 <= len(doc["per_layer"]) <= 128
    names = [w["name"] for w in doc["workloads"]]
    names += [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in doc["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in doc["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in doc["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_every_layer_metric_names_what_it_should_move():
    workloads = set(metrics.WORKLOADS) | {"all"}
    for name, (_, _, moves) in metrics.PER_LAYER.items():
        assert moves, name
        for e2e, workload in moves:
            assert e2e in metrics.END_TO_END and workload in workloads, name


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_has_exactly_the_contract_keys(trace):
    catalogue = metrics.PER_LAYER if trace else metrics.END_TO_END
    values = {name: 1.5 for name in catalogue}
    line = metrics.result_line(True, 7, 1, values, trace)
    doc = json.loads(line)
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["attempted"] == 7 and doc["failed"] == 1 and doc["correct"] is True
    assert set(doc["metrics"]) == set(catalogue)
    for name, m in doc["metrics"].items():
        assert m == {"value": 1.5, "unit": catalogue[name][0]}


def test_result_line_refuses_a_missing_metric():
    with pytest.raises(ValueError, match="wall_s"):
        metrics.result_line(True, 1, 0, {"setup_s": 1.0}, False)


def test_tail_is_the_highest_percentile_with_ten_beyond_it():
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, "max")
    xs = [float(i) for i in range(1, 101)]
    assert metrics.tail(xs) == (90.0, "p90")
    assert metrics.tail(xs[:39]) == (39.0, "max")
    value, label = metrics.tail(xs[:41])
    assert label == "p75" and sum(x > value for x in xs[:41]) >= 10


def _fake_spans():
    tr = Tracer(enabled=True)  # no Spark attached: spans, no counters
    with tr.span("harness.pass") as root:
        for _ in range(2):
            op = tr.new_op()
            with tr.span("harness.op", op):
                with tr.span("queries.build", op) as b:
                    sum(range(20_000))
                b.attrs["entry"] = metrics.LLM_ENTRIES[0]
                with tr.span("queries.exec", op):
                    sum(range(20_000))
            with tr.span("table.read_build", op):
                pass
    return tr, root


def test_self_times_add_up_to_the_root_span():
    tr, root = _fake_spans()
    selfs = tr.self_times(root)
    assert set(selfs) == {"harness", "queries", "table"}
    assert sum(selfs.values()) == pytest.approx(root.seconds, rel=1e-9, abs=1e-9)
    assert all(s.parent is not None for s in tr.spans[1:])


def test_untraced_spans_only_time_the_block():
    tr = Tracer(enabled=False)
    with tr.span("queries.build") as sp:
        pass
    assert sp.seconds >= 0 and tr.spans == []


def test_per_layer_reports_every_layer_metric():
    tr, root = _fake_spans()
    out = Outcome(ops=[Op("entry", 1.0), Op("entry", 2.0)], wall_s=root.seconds,
                  pass_span=root)
    values = layers.per_layer(tr, out, cpus=4)
    assert set(values) == set(metrics.PER_LAYER)
    assert values["trace.wall_s"] == root.seconds
    selfs = sum(values[f"{layer}.self_s"] for layer in metrics.LAYERS)
    assert selfs == pytest.approx(root.seconds)
    assert values["trace.residual_s"] == pytest.approx(values["harness.self_s"])


def test_lifecycle_figures_split_by_front_end():
    ops = [Op("api_commit", 0.4), Op("ds_commit", 0.8), Op("api_read", 0.5),
           Op("ds_read", 0.9), Op("compact", 2.0), Op("ds_read", 0.0, ok=False)]
    life = layers.lifecycle(ops)
    assert life["api_commit_p50_s"] == 0.4 and life["ds_commit_p50_s"] == 0.8
    assert life["commit_tail_s"] == 0.8 and life["read_tail_s"] == 0.9
    assert layers.lifecycle([Op("entry", 1.0)]) == {}


def test_datagen_is_seeded_and_row_order_keeps_the_rows(tmp_path):
    a = datagen.tables(7, 0.001)
    b = datagen.tables(7, 0.001)
    assert list(a) == ["region", "nation", "customer", "supplier", "part",
                       "orders", "lineitem", "events", "documents", "embeddings"]
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(datagen.tables(8, 0.001)["lineitem"])
    import pyarrow.parquet as pq

    datagen.write(str(tmp_path / "x"), 7, 0.001)
    datagen.write(str(tmp_path / "y"), 7, 0.001, row_order_seed=3)
    x = pq.read_table(tmp_path / "x" / "orders.parquet")
    y = pq.read_table(tmp_path / "y" / "orders.parquet")
    assert not x.equals(y)
    assert x.sort_by("o_orderkey").equals(y.sort_by("o_orderkey"))


def test_reference_is_last_write_wins():
    import numpy as np

    ref = Reference()
    cols = {"k": np.array([1, 2]), "cust": np.array([5, 6]),
            "status": np.array(["F", "O"]), "price": np.array([10, 20]),
            "day": np.array([1, 2])}
    ref.apply(cols, delete=False)
    ref.apply({**cols, "k": np.array([2]), "price": np.array([30]),
               "cust": np.array([7]), "status": np.array(["P"]),
               "day": np.array([3])}, delete=False)
    assert ref.rows == {1: (5, "F", 10, 1), 2: (7, "P", 30, 3)}
    ref.apply({**cols, "k": np.array([1])}, delete=True)
    assert ref.aggregate() == (1, 30, 7)


def test_batches_touch_only_live_keys_and_are_seeded():
    one = batches(5, 100, 3, 20, 5, 4)
    assert [b[2] for b in one] == [b[2] for b in batches(5, 100, 3, 20, 5, 4)]
    live = set(range(100))
    for ups, dels, probe, _ in one:
        new = set(ups["k"].tolist()) - live
        assert len(new) == 5 and set(dels["k"].tolist()) <= live
        assert not set(dels["k"].tolist()) & set(ups["k"].tolist())
        live = (live | new) - set(dels["k"].tolist())


def test_steady_summary_reports_spread_and_exact_counters():
    def run(v, jobs):
        m = {n: {"value": v, "unit": u} for n, (u, _, _) in metrics.PER_LAYER.items()}
        m["queries.build_jobs"]["value"] = jobs
        return {"metrics": m}

    rows = steady.summarize([run(1.0, 30), run(2.0, 30), run(3.0, 29)], True)
    wall = next(r for r in rows if r["metric"] == "trace.wall_s")
    assert wall["median"] == 2.0 and wall["spread"] > 0
    jobs = next(r for r in rows if r["metric"] == "queries.build_jobs")
    assert jobs["exact"] is False
    e2e = steady.summarize(
        [{"metrics": {n: {"value": 2.0} for n in metrics.END_TO_END}}] * 3, False
    )
    assert all(r["spread"] == 0 and r["within_third"] for r in e2e)


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_pipeline",
         "--seed", "1", "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""


def test_counters_count_a_reused_stage_once():
    from spans import COUNTERS, SparkCounters

    class Info:
        def __init__(self, stages):
            self.status, self.stageIds = "SUCCEEDED", stages

    class Tracker:
        jobs = {0: Info([0]), 1: Info([0, 1])}  # job 1 reuses stage 0

        def getJobIdsForGroup(self, group):
            return list(self.jobs)

        def getJobInfo(self, job_id):
            return self.jobs[job_id]

    def stage(stage_id):
        return [{
            "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
            "numFailedTasks": 0, "executorCpuTime": 2e9, "executorRunTime": 3000,
            "jvmGcTime": 0, "shuffleReadBytes": 0, "shuffleWriteBytes": 10,
            "diskBytesSpilled": 0, "inputBytes": 100,
        }]

    class Bus:
        def waitUntilEmpty(self):
            pass

    c = SparkCounters.__new__(SparkCounters)
    c._tracker, c._bus, c._stage = Tracker(), Bus(), stage
    c._seen_jobs, c._seen_stages = set(), set()
    c._totals = dict.fromkeys(COUNTERS, 0.0)
    got = c.sample()
    assert got["jobs"] == 2 and got["stages"] == 2 and got["tasks"] == 8
    assert got["cpu_s"] == 4.0 and got["shuffle_write_bytes"] == 20
    assert c.sample() == got  # nothing new: unchanged
