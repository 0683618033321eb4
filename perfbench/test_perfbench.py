"""Tests of the benchmark's own maths and event-log reader (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import statistics
import sys
import types
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# --- order statistics -------------------------------------------------------

def test_quartiles_match_statistics_quantiles():
    xs = [3.1, 0.5, 2.2, 9.0, 4.4, 1.1, 7.7, 5.5, 6.6, 8.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartiles(xs) == (q1, q2, q3)


def test_quartiles_single_sample():
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_supported_percentile_needs_ten_samples_beyond():
    assert stats.supported_percentile(19) is None
    assert stats.supported_percentile(20) == 50.0
    assert stats.supported_percentile(100) == 90.0
    assert stats.supported_percentile(200) == 95.0
    assert stats.supported_percentile(1000) == 99.0


def test_timing_summary_small_sample_reports_max():
    s = stats.timing_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "median": 2.0, "q1": 1.0, "q3": 3.0, "max": 3.0}


def test_timing_summary_large_sample_reports_percentile():
    s = stats.timing_summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["median"] == 49.5 and s["p90"] == 89.0


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    sp = [_span(0, None, 0.0, 10.0),
          _span(1, 0, 1.0, 4.0),
          _span(2, 0, 3.0, 6.0),      # overlaps child 1: covered 1..6
          _span(3, 0, 8.0, 12.0),     # runs past the parent: clipped at 10
          _span(4, 1, 2.0, 3.0)]      # grandchild: only reduces span 1
    st = stats.self_times(sp)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_without_children_is_duration():
    assert stats.self_times([_span(0, None, 1.0, 1.5)]) == {0: 0.5}


class FakeContext:
    """Records the job descriptions a tracer sets."""

    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, desc):
        self.descriptions.append(desc)


def test_tracer_paths_and_job_descriptions():
    sc = FakeContext()
    tr = spans.Tracer(sc)
    with tr.span("pass"):
        with tr.span("sun"):
            pass
    assert [s["name"] for s in tr.spans] == ["pass", "sun"]
    assert tr.spans[1]["parent"] == 0
    assert sc.descriptions == ["pass", "pass/sun", "pass", None]
    assert tr.total("pass") >= tr.total("sun") >= 0.0


def test_tracer_patched_wraps_and_restores():
    mod = types.ModuleType("pkg.layer")
    mod.work = lambda x: x + 1
    original = mod.work
    tr = spans.Tracer()
    with tr.patched(mod, ["work"]):
        with tr.span("pass"):
            assert mod.work(1) == 2
    assert mod.work is original
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("pass", None), ("layer.work", 0)]
    assert tr.path(1) == "pass/layer.work"


# --- event log ------------------------------------------------------------------

def _task(stage, run_ms, *, gc=0, sr=0, sw=0, spill=0, py_in=0, py_out=0, py_run=0):
    acc = [{"Name": eventlog.PY_IN, "Update": py_in},
           {"Name": eventlog.PY_OUT, "Update": py_out},
           {"Name": eventlog.PY_RUN, "Update": py_run},
           {"Name": "number of output rows", "Update": 7}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc,
                             "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Local Bytes Read": sr,
                                                      "Remote Bytes Read": 0},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}}}


def _stage(sid, *scopes):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Name": f"s{sid}", "Number of Tasks": 2,
                           "RDD Info": [{"Scope": json.dumps({"id": "1", "name": n})}
                                        for n in scopes]}}


def _job(jid, desc, stages):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Properties": props}


MB = 1024 * 1024


@pytest.fixture
def log_dir(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart"},
        _job(0, "warm", [0]), _stage(0, "MapInArrow"), _task(0, 50.0),
        _job(1, "pass/terrain.sun_tiles", [1]), _stage(1, "Exchange"),
        _task(1, 10.0, sw=2 * MB),
        _job(2, "pass", [2, 3]),
        _stage(2, "Exchange", "Scan parquet "),
        _task(2, 10.0, sw=4 * MB), _task(2, 30.0, sw=4 * MB),
        _stage(3, "FlatMapGroupsInPandas"),
        _task(3, 10.0, sr=3 * MB, gc=500, py_in=MB, py_out=2 * MB, py_run=1500),
        _task(3, 20.0, sr=5 * MB, spill=MB, py_in=MB, py_out=2 * MB, py_run=500),
        _task(3, 60.0, sr=0, py_in=0, py_out=0, py_run=0),
        _job(3, "", [4]), _stage(4), _task(4, 1.0),
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(events) // 2
    for k, chunk in ((1, events[:half]), (2, events[half:])):
        (d / f"events_{k}_local-1").write_text("\n".join(json.dumps(e) for e in chunk) + "\n")
    (d / "appstatus_local-1").write_text("")
    return tmp_path


def test_reader_joins_rolled_files_in_order(log_dir):
    ev = eventlog.read_events(log_dir)
    assert ev[0]["Event"] == "SparkListenerLogStart"
    assert sum(e["Event"] == "SparkListenerTaskEnd" for e in ev) == 8


def test_summary_attributes_by_span_prefix(log_dir):
    log = eventlog.AppLog(eventlog.read_events(log_dir))
    assert log.job_ids("pass") == {1, 2}
    assert log.job_ids("pass/terrain.sun_tiles") == {1}
    assert log.job_ids("pas") == set()
    s = log.summary("pass")
    assert s["jobs"] == 2 and s["tasks"] == 6
    assert s["shuffle_write_mb"] == pytest.approx(10.0)
    assert s["shuffle_read_mb"] == pytest.approx(8.0)
    assert s["spill_mb"] == pytest.approx(1.0)
    assert s["gc_s"] == pytest.approx(0.5)
    assert s["py_in_mb"] == pytest.approx(2.0)
    assert s["py_out_mb"] == pytest.approx(4.0)
    assert s["py_run_s"] == pytest.approx(2.0)


def test_stage_skews(log_dir):
    log = eventlog.AppLog(eventlog.read_events(log_dir))
    assert log.stage_skews("pass") == [(1, 1.0), (2, 1.5), (3, 3.0)]
    assert log.stage_skews("pass", scope="FlatMapGroupsInPandas") == [(3, 3.0)]
    # stage 3 read the most shuffle bytes: 60 ms over a 20 ms median
    assert log.busiest_stage_skew("pass") == pytest.approx(3.0)
    assert log.busiest_stage_skew("pass", key="shuffle_write_b") == pytest.approx(1.5)
    assert log.busiest_stage_skew("nothing") == 0.0


def test_task_skew_edges():
    assert eventlog.task_skew([]) == 0.0
    assert eventlog.task_skew([0.0, 0.0, 5.0]) == 1.0
    assert eventlog.task_skew([2.0, 2.0, 4.0]) == 2.0
