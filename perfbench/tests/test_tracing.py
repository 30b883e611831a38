"""Span arithmetic, the event-log and progress parsers (against a tiny
traced Spark run), and the /proc readers."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import procfs  # noqa: E402
import tracing  # noqa: E402
from tracing import Span, self_times  # noqa: E402


def _span(sid, start, end, parent=None):
    return Span(name=f"s{sid}", layer="x", start=start, end=end, parent=parent, op="p0.a", sid=sid)


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0), _span(3, 1.5, 2.0, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 2.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 0.5)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(0.5)


def test_self_time_merges_overlapping_children_and_clips():
    # children overlap each other (2-5 and 4-7 cover 2-7) and one spills past the parent
    spans = [_span(0, 0.0, 8.0), _span(1, 2.0, 5.0, 0), _span(2, 4.0, 7.0, 0), _span(3, 7.5, 9.0, 0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(8.0 - 5.0 - 0.5)


def test_tracer_nests_spans_and_tags_the_op():
    t = tracing.Tracer()
    t.op = "p3.q01"
    with t.span("outer", "pipelines"):
        with t.span("inner", "sources"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert {outer.op, inner.op} == {"p3.q01"}
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_stream_counters_skip_empty_batches():
    prog = [
        {"numInputRows": 10, "durationMs": {"triggerExecution": 1500, "getBatch": 10, "queryPlanning": 40, "latestOffset": 5, "addBatch": 1200},
         "stateOperators": [{"numRowsTotal": 10, "memoryUsedBytes": 1000}]},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 3}},
        {"numInputRows": 5, "durationMs": {"triggerExecution": 500, "addBatch": 400},
         "stateOperators": [{"numRowsTotal": 15, "memoryUsedBytes": 2000}]},
    ]
    c = tracing.stream_counters(prog)
    assert c["batch_s"] == [1.5, 0.5]
    assert c["plan_s"] == [pytest.approx(0.055), 0.0]
    assert c["add_batch_s"] == [1.2, 0.4]
    assert (c["state_rows"], c["state_mem_bytes"]) == (15, 2000)


def test_proc_tree_cpu_and_rss_cover_children():
    # a child running another executable than this interpreter: counted
    child = subprocess.Popen(["sh", "-c", "i=0; while [ $i -lt 200000 ]; do i=$((i+1)); done; sleep 5"])
    try:
        time.sleep(1.5)
        me = os.getpid()
        assert child.pid in procfs.descendants(me)
        assert procfs.tree_cpu_s(me) >= procfs.tree_cpu_s(child.pid) >= 0.2
        assert procfs.tree_rss_bytes(me) > procfs._rss_bytes(me)
    finally:
        child.kill()
        child.wait(timeout=10)


def test_proc_tree_rss_skips_forks_of_the_root():
    # a fork of the root that has not exec'd (same executable) shares its pages
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        time.sleep(0.5)
        me = os.getpid()
        assert child.pid in procfs.descendants(me)
        assert procfs.tree_rss_bytes(me) < procfs._rss_bytes(me) + procfs._rss_bytes(child.pid) // 2
    finally:
        child.kill()
        child.wait(timeout=10)


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    """A tiny traced run: three ops in their own job groups (a scan +
    shuffle aggregate, a parquet write, an eager local checkpoint) and a
    two-batch stream over two one-file tables."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tmp_path_factory.mktemp("trace")
    logs = tmp / "eventlog"
    logs.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.logBlockUpdates.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(logs))
        .config("spark.sql.warehouse.dir", str(tmp / "wh"))
        .getOrCreate()
    )
    src = tmp / "src"
    spark.range(0, 1000, numPartitions=1).withColumn("k", F.col("id") % 7).write.parquet(str(src / "a"))
    spark.range(1000, 1500, numPartitions=1).withColumn("k", F.col("id") % 7).write.parquet(str(src / "b"))
    sc = spark.sparkContext
    sc.setJobGroup("p0.agg", "agg")
    df = spark.read.parquet(str(src / "a")).groupBy("k").count()
    phase_ms = tracing.plan_phase_ms(df)
    rows = df.collect()
    sc.setJobGroup("p0.write", "write")
    spark.read.parquet(str(src / "a")).write.parquet(str(tmp / "out"))
    sc.setJobGroup("p0.cp", "cp")
    spark.read.parquet(str(src / "a")).localCheckpoint(eager=True)
    landing = tmp / "landing"
    landing.mkdir()
    for name in ("a", "b"):
        part = next(p for p in os.listdir(src / name) if p.endswith(".parquet"))
        os.link(src / name / part, landing / f"{name}.parquet")
    sdf = spark.readStream.schema(spark.read.parquet(str(src / "a")).schema).option("maxFilesPerTrigger", 1).parquet(str(landing))
    q = (
        sdf.dropDuplicates(["id"]).writeStream.format("memory").queryName("t").outputMode("append")
        .option("checkpointLocation", str(tmp / "ck")).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    run_id = str(q.runId)
    progress = [json.loads(p.json) for p in q.recentProgress]
    spark.stop()
    (log,) = [os.path.join(logs, f) for f in os.listdir(logs)]
    groups = {"p0.agg", "p0.write", "p0.cp", run_id}
    counters = tracing.parse_event_log(log, lambda g, props: ("p0.stream" if g == run_id else g) if g in groups else None)
    return {"counters": counters, "rows": rows, "progress": progress, "phase_ms": phase_ms}


def test_event_log_attributes_jobs_to_ops(traced_run):
    c = traced_run["counters"]
    assert set(c) == {"p0.agg", "p0.write", "p0.cp", "p0.stream"}
    agg = c["p0.agg"]
    assert agg.jobs >= 1 and agg.stages >= 2 and agg.tasks >= 2
    assert agg.scan_rows == 1000 and agg.scan_bytes > 0
    assert agg.exchanges == 1
    assert agg.shuffle_write_bytes > 0 and agg.shuffle_read_bytes > 0
    assert agg.task_run_s >= 0 and agg.task_cpu_s > 0
    assert agg.write_bytes == 0 and agg.python_rows == 0
    assert sum(r["count"] for r in traced_run["rows"]) == 1000


def test_event_log_counts_writes_and_checkpoints(traced_run):
    c = traced_run["counters"]
    assert c["p0.write"].write_bytes > 0 and c["p0.write"].write_s > 0
    assert c["p0.cp"].block_rdds == 1 and c["p0.cp"].block_bytes > 0
    assert c["p0.agg"].block_rdds == 0


def test_stream_jobs_and_progress(traced_run):
    c = traced_run["counters"]["p0.stream"]
    assert c.jobs >= 2 and c.scan_rows == 1500
    sc = tracing.stream_counters(traced_run["progress"])
    assert len(sc["batch_s"]) == 2
    assert sc["state_rows"] == 1500 and sc["state_mem_bytes"] > 0


def test_plan_phases_are_read(traced_run):
    assert traced_run["phase_ms"] > 0
