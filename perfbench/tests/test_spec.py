"""BENCHMARK.json: the benchmark's contract, and its names.

Every workload and metric name must be one the benchmark's design
defines (listed below), so later changes cite them by a stable name."""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

WORKLOADS = {"water_etl", "olap_sf1", "corpus_curate", "water_stream"}
END_TO_END = {"setup_s", "wall_s", "rows_per_s", "op_p50_s", "op_tail_s", "cpu_s", "peak_rss_mb", "failed_frac"}
PER_LAYER = {
    "session.start_s", "session.warm_s",
    "sources.read_excel_s", "sources.write_s", "sources.bytes_written", "sources.files_written",
    "sources.scan_rows", "sources.scan_bytes",
    "pipelines.down_csv_stage_s", "pipelines.down_join_stage_s", "pipelines.compare_s",
    "pipelines.curate_call_s", "pipelines.curate_drain_s", "pipelines.curate_funnel_rows",
    "queries.build_s", "queries.drain_s",
    "operators.fallback_join_matched_ratio",
    "plans.checkpoints", "plans.checkpoint_bytes",
    "streaming.batch_s", "streaming.plan_s", "streaming.add_batch_s", "streaming.state_rows", "streaming.state_mem_bytes",
    "spark.plan_ms", "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.shuffle_fetch_wait_s", "spark.spill_bytes",
    "spark.exchanges", "spark.task_skew", "spark.python_rows", "spark.python_bytes",
}
_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_are_the_designed_ones():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= WORKLOADS
    assert {m["name"] for m in spec["end_to_end"]} <= END_TO_END
    assert {m["name"] for m in spec["per_layer"]} <= PER_LAYER


def test_contract_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"][0] == "python3" and all(not a.startswith("/") and ".." not in a for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16 and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names)) and all(_NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25 and _UNIT.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and _UNIT.match(m["unit"])
    assert set(spec["workloads"][i]["name"] for i in range(len(spec["workloads"]))) == set(run.NOMINAL_PASS_S)


def test_tail_percentile_keeps_ten_ops_beyond():
    times = [float(i) for i in range(1, 31)]  # 30 ops
    pct, v = run.tail_percentile(times)
    assert v == 20.0 and sum(t > v for t in times) == 10
    assert abs(pct - 100 * 20 / 30) < 1e-9
    pct, v = run.tail_percentile([3.0, 1.0, 2.0])
    assert (pct, v) == (100.0, 3.0)


def test_wrong_pin_fails_the_op():
    class Args:
        workload, seed, trace, write_pins = "olap_sf1", 1, 0, False

    class D:
        rows, value = 5, "5:1:2"

    bench = run.Bench(Args, "/nonexistent", {"olap_sf1": {"q01.out": "5:1:2", "q03.out": "5:9:9"}})
    assert bench._check(0, "q01", "out", D, None) is None
    assert bench._check(-1, "q01", "out", D, None) is None
    assert "pinned" in bench._check(0, "q03", "out", D, None)
    assert "no pinned digest" in bench._check(0, "q06", "out", D, None)
    assert "law" in bench._check(0, "q01", "out", D, {"out": 6})
