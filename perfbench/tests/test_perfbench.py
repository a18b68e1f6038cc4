"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import json
import os
import re
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402


# the limits BENCHMARK.json must respect
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128


# ------------------------------------------------------ percentile rule --


@pytest.mark.parametrize(
    "n, pct, beyond",
    [(20, 50.0, 10), (40, 75.0, 10), (100, 90.0, 10), (200, 95.0, 10), (1000, 99.0, 10), (20000, 99.9, 20)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, beyond):
    values = [float(i) for i in range(n)]
    p, value, got_beyond = common.tail(values)
    assert (p, got_beyond) == (pct, beyond)
    assert value == values[n - beyond - 1]
    assert sum(1 for v in values if v > value) == got_beyond


def test_tail_needs_ten_samples_beyond_the_median():
    assert common.tail([1.0] * 19) is None


def test_tail_ignores_input_order():
    values = [3.0, 1.0, 2.0] * 10
    assert common.tail(values) == common.tail(sorted(values))


# -------------------------------------------------------------- spans --


class FakeClock:
    def __init__(self) -> None:
        self.now = 0.0

    def time(self) -> float:
        return self.now


@pytest.fixture()
def clock(monkeypatch):
    c = FakeClock()
    monkeypatch.setattr(tracing, "time", types.SimpleNamespace(time=c.time))
    return c


def test_self_time_subtracts_children(clock):
    tr = tracing.Tracer()
    with tr.span("write"):
        clock.now = 2.0
        with tr.span("finalize"):
            clock.now = 5.0
        clock.now = 6.0
        with tr.span("finalize"):
            clock.now = 7.0
        clock.now = 10.0
    assert tr.total("write") == 10.0
    assert tr.total("finalize") == 4.0
    assert tr.self_total("write") == 6.0
    assert tr.self_total("finalize") == 4.0
    assert tr.count("finalize") == 2


def test_grandchildren_count_only_against_their_parent(clock):
    tr = tracing.Tracer()
    with tr.span("a"):
        with tr.span("b"):
            clock.now = 1.0
            with tr.span("c"):
                clock.now = 3.0
            clock.now = 4.0
        clock.now = 5.0
    assert tr.self_total("a") == 1.0
    assert tr.self_total("b") == 2.0
    assert tr.self_total("c") == 2.0


def test_spans_on_other_threads_do_not_nest(clock):
    import threading

    tr = tracing.Tracer()

    def pool_work():
        sp = tr.open("pool")
        clock.now = 1.0
        tr.close(sp)

    with tr.span("outer"):
        th = threading.Thread(target=pool_work)
        th.start()
        th.join(timeout=5)
        assert not th.is_alive()
        clock.now = 2.0
    assert tr.self_total("outer") == 2.0
    assert tr.total("pool") == 1.0


class Owner:
    calls = 0

    def method(self, x):
        return x + 1

    @classmethod
    def make(cls, x):
        return [x]


def caller_named_wanted(obj):
    return obj.method(1)


def test_patches_wrap_and_restore():
    tr = tracing.Tracer()
    seen = []
    raw_method = Owner.__dict__["method"]
    raw_make = Owner.__dict__["make"]
    with tracing.Patches(tr) as p:
        p.wrap(Owner, "method", "m", on_result=seen.append).wrap(Owner, "make", "k")
        assert Owner().method(1) == 2
        assert Owner.make(3) == [3]
    assert seen == [2]
    assert tr.count("m") == 1 and tr.count("k") == 1
    assert Owner.__dict__["method"] is raw_method
    assert Owner.__dict__["make"] is raw_make


def test_patches_only_from_filters_callers():
    tr = tracing.Tracer()
    with tracing.Patches(tr) as p:
        p.wrap(Owner, "method", "m", only_from="caller_named_wanted")
        Owner().method(1)
        caller_named_wanted(Owner())
    assert tr.count("m") == 1


def test_patch_replaces_the_name_the_consumer_binds():
    lib = types.ModuleType("lib")
    lib.f = lambda: "lib"
    consumer = types.ModuleType("consumer")
    consumer.f = lib.f  # "from lib import f"
    tr = tracing.Tracer()
    with tracing.Patches(tr) as p:
        p.wrap(consumer, "f", "f")
        consumer.f()
        lib.f()
    assert tr.count("f") == 1


# ---------------------------------------------------------- event log --


def _events() -> list[dict]:
    plan = {
        "nodeName": "WholeStageCodegen",
        "metrics": [],
        "children": [
            {
                "nodeName": "MapInPandas",
                "metrics": [
                    {"name": tracing.PY_SENT, "accumulatorId": 1, "metricType": "size"},
                    {"name": tracing.PY_RECEIVED, "accumulatorId": 2, "metricType": "size"},
                    {"name": tracing.PY_TIME, "accumulatorId": 3, "metricType": "nsTiming"},
                    {"name": tracing.PY_ROWS, "accumulatorId": 4, "metricType": "sum"},
                ],
                "children": [],
            }
        ],
    }

    def task(stage, launch, finish, accums):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {
                "Launch Time": launch,
                "Finish Time": finish,
                "Accumulables": [{"ID": k, "Update": v} for k, v in accums.items()],
            },
            "Task Metrics": {
                "Executor Run Time": finish - launch,
                "Executor CPU Time": 1_000_000,
                "JVM GC Time": 1,
                "Input Metrics": {"Bytes Read": 100},
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                "Memory Bytes Spilled": 7,
                "Disk Bytes Spilled": 3,
            },
        }

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        task(0, 1100, 1400, {1: 50, 2: 40, 3: 2_000_000_000, 4: 10}),
        task(0, 1300, 1600, {1: 50, 9: 99}),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000, "Stage IDs": [1]},
        task(1, 5000, 5500, {}),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5500},
    ]


def test_event_log_summary(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    log = tracing.EventLog.read(str(tmp_path))
    first = log.jobs_in([(0.9, 2.1)])
    assert [j.id for j in first] == [0]
    s = log.summary(first)
    assert s["spark.jobs"] == 1 and s["spark.tasks"] == 2 and s["spark.stages"] == 1
    assert s["spark.task_run_s"] == pytest.approx(0.6)
    assert s["spark.input_bytes"] == 200 and s["spark.shuffle_read_bytes"] == 6
    assert s["spark.spill_bytes"] == 20
    # job 0 runs 1000..2000 ms, its tasks cover 1100..1600
    assert s["spark.dispatch_s"] == pytest.approx(0.5)
    assert s["python.bytes_sent"] == 100 and s["python.bytes_received"] == 40
    assert s["python.task_run_s"] == pytest.approx(2.0)
    assert s["python.rows_received"] == 10
    both = log.summary(log.jobs_in([(0.9, 2.1), (4.9, 5.1)]))
    assert both["spark.jobs"] == 2 and both["spark.dispatch_s"] == pytest.approx(0.5)


def test_covered_merges_overlaps():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.covered([]) == 0


# ---------------------------------------------------------- generator --


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_generator_is_byte_identical_per_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "HISTORY_FILES", 60)
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.make_history(str(tmp_path / name), seed)
        gen.make_landing(str(tmp_path / name), seed, 3)
    ta, tb, tc = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert ta == tb
    assert ta.keys() == tc.keys() and ta != tc
    assert gen.make_landing(str(tmp_path / "d"), 7, 4).files[0].path.endswith("new-00004-0.ndjson.gz")


def test_generator_expected_counts_match_the_files(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "HISTORY_FILES", 30)
    history = gen.make_history(str(tmp_path), 3)
    landing = gen.make_landing(str(tmp_path), 3, 1)
    assert len(history.files) == 30 and len(landing.files) == gen.LANDING_FILES
    for f in history.files + landing.files:
        with gzip.open(f.path, "rt") as fh:
            lines = fh.read().splitlines()
        kept = corrupt = 0
        for line in lines:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                corrupt += 1
                continue
            kept += rec["Type"] != gen.DROPPED_TYPE
        assert (len(lines), kept) == (f.lines, f.kept)
        assert corrupt == (gen.CORRUPT_PER_FILE if f in landing.files else 1)
    assert landing.kept == sum(f.kept for f in landing.files) > 0


# ------------------------------------------------------------- metrics --


def _notes() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "metrics.json")) as f:
        return json.load(f)["metrics"]


def test_metric_names_units_and_caps():
    specs = common.load_metric_specs()
    e2e, per = specs["end_to_end"], specs["per_layer"]
    assert 1 <= len(e2e) <= MAX_END_TO_END
    assert 1 <= len(per) <= MAX_PER_LAYER
    names = [m["name"] for m in e2e + per]
    assert len(names) == len(set(names))
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in per:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + per:
        assert NAME_RE.match(m["name"]), m["name"]
        assert UNIT_RE.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_name_rule_rejects_bad_names():
    for bad in ["", "_x", "a b", "x" * 65, "é"]:
        assert not NAME_RE.match(bad)
    assert NAME_RE.match("queries.sim_ann_methods.build_jobs")


def test_every_metric_is_annotated():
    import run

    bench = common.load_metric_specs()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    notes = _notes()
    assert list(notes) == [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    for m in bench["per_layer"]:
        assert notes[m["name"]]["moves"]
    for note in notes.values():
        assert note["layer"] and note["doc"] and note["workloads"]
        assert set(note["workloads"]) <= set(run.WORKLOADS)


def test_result_line_shape():
    specs = [{"name": "a_s", "unit": "s"}]
    line = json.loads(common.result_line(True, 3, 0, {"a_s": 1.5}, specs))
    assert line == {"correct": True, "attempted": 3, "failed": 0, "metrics": {"a_s": {"value": 1.5, "unit": "s"}}}
    with pytest.raises(KeyError):
        common.result_line(True, 1, 0, {}, specs)
