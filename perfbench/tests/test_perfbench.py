"""Unit tests for the benchmark's own parts: the event-log reader, span
self time and job attribution, the metric arithmetic, metric-name validity
against BENCHMARK.json, and the input generators. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
from spans import (  # noqa: E402
    GROUP_PREFIX, Job, Span, Stage, Tracer,
    attach_jobs, idle_seconds, jobs_under, read_event_log, self_times,
)

# Names and units as BENCHMARK.json allows them.
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
METRIC_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


# --- BENCHMARK.json --------------------------------------------------------

def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_exactly_the_emitted_metrics():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def test_benchmark_json_workloads_are_the_implemented_ones():
    import workloads

    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(workloads.WORKLOADS)


def test_metric_names_and_units_are_valid():
    spec = _benchmark_json()
    names = [m["name"] for key in ("end_to_end", "per_layer", "workloads") for m in spec[key]]
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert METRIC_UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.parametrize("bad", ["", "_x", "a b", "x" * 65, "é"])
def test_metric_name_pattern_rejects(bad):
    assert not METRIC_NAME.match(bad)


# --- spans -----------------------------------------------------------------

def _span(id, start, end, parent=None, name="s"):
    return Span(id=id, name=name, start=start, end=end, parent=parent)


def test_self_time_subtracts_union_of_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),  # overlaps child 1
        _span(3, 9.0, 12.0, parent=0),  # runs past the parent's end
        _span(4, 1.5, 2.0, parent=1),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - (4.0 + 1.0))  # [1,5] and [9,10]
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(0.5)


def test_idle_seconds_counts_uncovered_wall_time():
    assert idle_seconds(0.0, 10.0, []) == 10.0
    assert idle_seconds(0.0, 10.0, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)


def test_tracer_nests_spans_and_maps_ancestors():
    clock = iter(float(i) for i in range(100))
    t = Tracer(clock=lambda: next(clock))
    with t.span("pass") as p:
        with t.span("key", key="k"):
            with t.span("build") as b:
                pass
    assert b.parent == 1 and p.parent is None
    assert t.ancestor_map({p.id}) == {1: p.id, b.id: p.id}
    assert [s["name"] for s in t.to_json()] == ["pass", "key", "build"]


def test_attach_jobs_by_group_then_by_time_window():
    t = Tracer()
    t.spans = [
        _span(0, 100.0, 110.0, name="pass"),
        _span(1, 100.0, 104.0, parent=0, name="build"),
        _span(2, 104.0, 110.0, parent=0, name="run_scan"),
    ]
    grouped = Job(id=0, start=105.0, end=106.0, group=f"{GROUP_PREFIX}1")
    pooled = Job(id=1, start=105.5, end=107.0)  # no group: pool thread
    outside = Job(id=2, start=200.0, end=201.0)
    by_span = attach_jobs(t, [grouped, pooled, outside])
    assert [j.id for j in by_span[1]] == [0]  # the group wins over the window
    assert [j.id for j in by_span[2]] == [1]
    assert sorted(j.id for j in jobs_under(t, by_span, 0)) == [0, 1]
    job_spans = [s for s in t.spans if s.name == "spark.job"]
    assert {s.parent for s in job_spans} == {1, 2}


# --- event log -------------------------------------------------------------

def _events(job_id, stage_id, t0, group=None, schema=False):
    rdds = ["MapPartitionsRDD", "ParallelCollectionRDD"] if schema else ["FileScanRDD"]
    name = "parquet at X.java:0" if schema else "count at X.java:0"
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t0,
         "Stage IDs": [stage_id], "Properties": props,
         "Stage Infos": [{"Stage ID": stage_id, "Stage Name": name,
                          "RDD Info": [{"Name": r} for r in rdds]}]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
         "Task Metrics": {"Peak Execution Memory": 1000 * (job_id + 1)}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": stage_id, "Stage Name": name, "Number of Tasks": 2,
            "Submission Time": t0 + 1, "Completion Time": t0 + 9,
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 40},
                {"Name": "internal.metrics.input.bytesRead", "Value": 4096},
                {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 5},
                {"Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 7},
                {"Name": "number of output rows", "Value": "12"},
            ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t0 + 10},
    ]


def test_read_event_log_rolling_format(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    part1 = _events(0, 0, 1_000, schema=True)
    part2 = _events(1, 1, 2_000, group=f"{GROUP_PREFIX}3")
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in part1) + "\n")
    (d / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in part2) + '\n{"Event": "SparkListenerJo')
    (d / "appstatus_local-1").write_text("")
    jobs = read_event_log(str(tmp_path))
    assert [j.id for j in jobs] == [0, 1]
    a, b = jobs
    assert a.is_schema_job and not b.is_schema_job
    assert a.group is None and b.group == f"{GROUP_PREFIX}3"
    assert (b.start, b.end) == (2.0, 2.01)
    assert b.total("task_ms") == 40 and b.total("input") == 4096
    assert b.total("shuffle_read") == 12
    assert b.tasks == 2 and b.peak_exec_mem == 2000


# --- metric arithmetic -----------------------------------------------------

class _Pass:
    def __init__(self, seconds, ops, read_bytes):
        self.seconds, self.ops, self.read_bytes = seconds, ops, read_bytes


def test_end_to_end_sums_per_operation_medians():
    passes = [
        _Pass(3.0, {"a": 1.0, "b": 2.0}, 10_000_000),
        _Pass(9.0, {"a": 7.0, "b": 2.0}, 10_000_000),  # one slow operation
        _Pass(3.5, {"a": 1.5, "b": 2.0}, 12_000_000),
    ]
    m = metrics.end_to_end(passes, setup_s=8.0)
    assert m == {"setup_s": 8.0, "query_s": 3.5, "key_p50_s": 1.75, "read_mb": 10.0}


def test_per_layer_runner_fanout():
    t = Tracer()
    t.spans = [
        _span(0, 0.0, 20.0, name="window"),
        _span(1, 0.0, 10.0, parent=0, name="pass"),
        _span(2, 0.0, 10.0, parent=1, name="run_scan"),
    ]
    t.spans[2].attrs = {"files": 2, "rows": 5, "read_ops": 9}
    jobs = []
    for i, (a, b) in enumerate([(1, 3), (2, 4), (6, 7), (8, 9)]):
        j = Job(id=i, start=float(a), end=float(b))
        j.stages = [Stage(id=i, name="count at X", tasks=1, metrics={"task_ms": 2000})]
        jobs.append(j)
    by_span = attach_jobs(t, jobs)
    setup = {"session.start_s": 8.0, "registry.import_s": 0.3, "driver.peak_rss_mb": 900.0}
    m = metrics.per_layer(t, by_span, 0, setup, n_cores=4, overhead_s=0.1)
    assert set(m) == set(metrics.PER_LAYER)
    assert m["runner.jobs_per_file"] == 2.0
    assert m["runner.idle_s"] == pytest.approx(5.0)  # covered: [1,4], [6,7], [8,9]
    assert m["runner.busy_ratio"] == pytest.approx(8.0 / (10.0 * 4))
    assert m["exec.wall_s"] == pytest.approx(5.0)
    assert m["exec.jobs"] == 4 and m["runner.rows"] == 5
    assert m["runner.pull_s"] == 0 and m["tables.load_s"] == 0.0


# --- generators ------------------------------------------------------------

def test_id_checksum_is_order_insensitive_and_sees_swaps():
    ids = np.arange(1000, dtype=np.int64)
    assert gen.id_checksum(ids) == gen.id_checksum(ids[::-1].copy())
    lost_and_duplicated = np.concatenate([ids[1:], ids[-1:]])
    assert gen.id_checksum(lost_and_duplicated) != gen.id_checksum(ids)


def test_vpic_manifest_matches_files_and_is_seeded(tmp_path):
    m1 = gen.vpic_files(str(tmp_path / "a"), 5, 2, 5000, 2000, [0.5, 4.0])
    m2 = gen.vpic_files(str(tmp_path / "b"), 5, 2, 5000, 2000, [0.5, 4.0])
    assert m1["total"] == m2["total"]
    total = 0
    for path, want in m1["files"].items():
        t = pq.read_table(path)
        assert pq.ParquetFile(path).metadata.num_row_groups == 3
        ke, ids = t["ke"].to_numpy(), t["id"].to_numpy()
        assert ke.dtype == np.float32
        hit = ids[ke.astype(np.float64) > 4.0]  # Spark compares as double
        assert want["4.0"] == {"rows": hit.size, "checksum": gen.id_checksum(hit)}
        total += int((ke.astype(np.float64) > 0.5).sum())
    assert m1["total"]["0.5"]["rows"] == total


def test_fixture_tables_have_the_fixture_schema(tmp_path):
    rows = gen.fixture_tables(str(tmp_path), 3)
    assert set(rows) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"}
    schema = {n: pq.read_schema(tmp_path / f"{n}.parquet") for n in rows}
    assert str(schema["events"].field("ts").type) == "timestamp[ns]"
    assert str(schema["orders"].field("o_orderdate").type) == "timestamp[ms]"
    assert str(schema["embeddings"].field("embedding").type.value_type) == "float"
    assert str(schema["lineitem"].field("l_linenumber").type) == "int32"
    again = tmp_path / "again"
    gen.fixture_tables(str(again), 3)
    for n in rows:
        assert pq.read_table(again / f"{n}.parquet").equals(
            pq.read_table(tmp_path / f"{n}.parquet"))
