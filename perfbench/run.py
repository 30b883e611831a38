"""The repository benchmark: one named workload, one seed, one process.

    python3 perfbench/run.py --workload water_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed (outside the timed region), starts one Spark session sized to the
host, runs the workload's warm-up passes (set-up; none for the batch
pipeline, which is timed cold, as it runs), then the timed passes with
one closed-loop client, checks every op's output against ``pins.json``,
and prints:

* a ``launcher`` line with the host settings it chose,
* an ``inputs`` line with the input set's rows, bytes and sha256,
* a ``record`` line with every end-to-end metric (``failed_frac`` and the
  tail percentile used included), the load average and the run's shape,
* as the last line, the result object: ``correct``, ``attempted``,
  ``failed`` and ``metrics`` (the end-to-end metrics, or with
  ``--trace 1`` the per-layer ones).

``--seconds`` sets the work, not a deadline: the run times
``max(1, round(seconds / nominal pass seconds))`` whole passes, so two
commits are timed on the same ops. ``--trace 1`` adds spans around every
call into the library's public functions, Spark's event log and the
streaming progress, and writes them to a side file under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procfs  # noqa: E402
import tracing  # noqa: E402

#: seconds of one timed pass on a 4-core host: turns --seconds into passes
NOMINAL_PASS_S = {"water_etl": 50.0, "olap_sf1": 10.0}
#: untimed passes before the timed ones. The down pipeline is a batch job
#: that its users start in a fresh process each time, so its cold pass
#: (class loading, code generation, first JIT compilations) is what they
#: wait for and is timed; the query mix is timed warm.
WARM_PASSES = {"water_etl": 0, "olap_sf1": 1}
#: tracing and event-log settings for --trace 1
_TRACE_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.logBlockUpdates.enabled": "true",
}


def tail_percentile(times: list[float]) -> tuple[float, float]:
    """The highest nearest-rank percentile with at least ten ops above
    it, and its value. Below 20 ops no percentile at or above the
    median qualifies; the maximum is reported, as percentile 100."""
    s = sorted(times)
    n = len(s)
    if n < 20:
        return 100.0, s[-1]
    k = n - 10
    return 100.0 * k / n, s[k - 1]


def launcher_env(root: str, work: str) -> dict[str, str]:
    """Host-fitted settings for the session factory and the workers."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(mem_gb // 6)))}g",
        "PYTHONPATH": os.pathsep.join([root, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata file in /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    return env


class Bench:
    def __init__(self, args, work: str, pins: dict):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.pins = pins.get(args.workload, {})
        self.write_pins = args.write_pins
        self.observed: dict[str, str] = {}
        self.ops: list = []
        self.stream_runs: dict[str, str] = {}
        self.stream_progress: dict[int, list[dict]] = {}
        self.digests: dict[tuple, object] = {}
        self.pass_extra: dict[int, dict] = {}
        self.spark = None
        self.tracer = None

    # -- tracing helpers ---------------------------------------------------
    def span(self, name: str, layer: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name, layer)

    def _extra(self, p: int) -> dict:
        return self.pass_extra.setdefault(p, {})

    def _add(self, p: int, key: str, v: float) -> None:
        e = self._extra(p)
        e[key] = e.get(key, 0) + v

    # -- ops ---------------------------------------------------------------
    def _check(self, p: int, kind: str, name: str, d, rows: dict | None) -> str | None:
        key = f"{kind}.{name}"
        self.observed[key] = d.value
        if rows and name in rows and d.rows != rows[name]:
            return f"{key}: {d.rows} rows, law says {rows[name]}"
        want = self.pins.get(key)
        if self.write_pins:
            return None
        if want is None:
            return f"{key}: no pinned digest"
        if d.value != want:
            return f"{key}: digest {d.value} != pinned {want}"
        return None

    def run_op(self, p: int, kind: str, fn, rows: dict | None = None) -> bool:
        """Run one op in its own job group and check its digests. Returns
        whether the op produced its output (a wrong digest still counts
        as a failed op, but later ops can run on the output)."""
        from workloads import Op

        op = Op(id=f"p{p}.{kind}", kind=kind)
        self.spark.sparkContext.setJobGroup(op.id, kind)
        if self.tracer is not None:
            self.tracer.op = op.id
        t0 = time.perf_counter()
        try:
            res = fn()
            digests, extra = res if isinstance(res, tuple) else (res, {})
        except Exception as exc:  # an op that raises counts as failed; the run goes on
            op.seconds = time.perf_counter() - t0
            op.ok, op.error = False, _describe(exc)
            self._record(p, op)
            return False
        else:
            op.seconds = time.perf_counter() - t0
            errors = [e for n, d in digests.items() if (e := self._check(p, kind, n, d, rows))]
            op.ok, op.error = not errors, "; ".join(errors) or None
            for n, d in digests.items():
                self.digests[(p, kind, n)] = d.value
                self._add(p, "plan_ms", d.plan_ms)
                if d.matched is not None:
                    self._add(p, "matched", d.matched)
                    self._add(p, "matched_of", d.rows)
            for k, v in extra.items():
                self._add(p, k, v)
        self._record(p, op)
        return True

    def _record(self, p: int, op) -> None:
        self.ops.append((p, op))
        if not op.ok:
            print(f"op failed: {op.id}: {op.error}", file=sys.stderr)

    def last_digest(self, p: int, kind: str, name: str) -> str | None:
        return self.digests.get((p, kind, name))

    def run_stream(self, p: int, make_df, expect_batches: int, ok: bool, rows: int, same_as: str | None) -> None:
        """Drain a streaming plan into a memory sink with availableNow;
        each micro-batch is one op, timed by the query's own progress.
        The sink's digest must equal the pin and the batch product's."""
        from workloads import _PRODUCT_SKIP, Op, digest

        if not ok:
            for i in range(expect_batches):
                self._record(p, Op(id=f"p{p}.stream.b{i}", kind="stream_batch", ok=False, error="upstream op failed"))
            return
        name = f"stream_{p + 1}_{uuid.uuid4().hex[:8]}"
        ck = os.path.join(self.work, "ck", name)
        self.spark.sparkContext.setJobGroup(f"p{p}.stream", "stream")
        if self.tracer is not None:
            self.tracer.op = f"p{p}.stream"
        t0 = time.perf_counter()
        error = None
        progress: list[dict] = []
        try:
            q = (
                make_df()
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            self.stream_runs[str(q.runId)] = f"p{p}.stream"
            q.awaitTermination()
            progress = [json.loads(pr.json) for pr in q.recentProgress]
            t1 = time.perf_counter()
            d = digest(self.spark.table(name), exclude=_PRODUCT_SKIP)
            self._add(p, "stream_drain_s", time.perf_counter() - t1)
            self._add(p, "plan_ms", d.plan_ms)
            error = self._check(p, "stream", "out", d, {"out": rows})
            if error is None and same_as is not None and d.value != same_as:
                error = f"stream digest {d.value} != batch product {same_as}"
        except Exception as exc:  # recorded as failed micro-batches
            error = _describe(exc)
        finally:
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(ck, ignore_errors=True)
        self._add(p, "stream_wall_s", time.perf_counter() - t0)
        sc = tracing.stream_counters(progress)
        self.stream_progress[p] = progress
        batch_s = sc["batch_s"]
        if error is None and len(batch_s) != expect_batches:
            error = f"{len(batch_s)} micro-batches, expected {expect_batches}"
        for i in range(max(expect_batches, len(batch_s))):
            t = batch_s[i] if i < len(batch_s) else 0.0
            self._record(p, Op(id=f"p{p}.stream.b{i}", kind="stream_batch", seconds=t, ok=error is None, error=error))


def _describe(exc: Exception) -> str:
    first = str(exc).splitlines()[0][:300] if str(exc) else ""
    return f"{type(exc).__name__}: {first}"


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and every
    process it forked to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = procfs.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def pass_of(op_id: str | None) -> int | None:
    """Op ids are ``p<pass>.<kind>[...]``; warm-up passes are -1."""
    if not op_id or not op_id.startswith("p"):
        return None
    try:
        return int(op_id[1:].split(".", 1)[0])
    except ValueError:
        return None


#: spans whose duration is a per-layer metric
_SPAN_METRICS = {
    "sources.excel.read_excel_sheet": "sources.read_excel_s",
    "pipelines.down.down_csv_stage": "pipelines.down_csv_stage_s",
    "pipelines.down.down_join_stage": "pipelines.down_join_stage_s",
    "pipelines.compare.compare_pipeline": "pipelines.compare_s",
}
#: event-log counters summed per pass, by per-layer metric name
_COUNTER_METRICS = {
    "sources.write_s": "write_s",
    "sources.bytes_written": "write_bytes",
    "sources.scan_rows": "scan_rows",
    "sources.scan_bytes": "scan_bytes",
    "plans.checkpoints": "block_rdds",
    "plans.checkpoint_bytes": "block_bytes",
    **{f"spark.{k}": k for k in (
        "jobs", "stages", "tasks", "scheduler_delay_s", "task_run_s", "task_cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
        "exchanges", "python_rows", "python_bytes",
    )},
}


def layer_metrics(bench: Bench, timed: list[int], counters: dict) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer metrics of the traced run, per pass and then the median
    over the timed passes; and self seconds per layer per pass."""
    per_pass: dict[int, dict[str, float]] = {p: {} for p in timed}

    def add(p, k, v):
        if p in per_pass:
            per_pass[p][k] = per_pass[p].get(k, 0.0) + v

    spans = bench.tracer.spans
    self_s = tracing.self_times(spans)
    self_by_layer: dict[str, float] = {}
    for s in spans:
        p = pass_of(s.op)
        if s.name in _SPAN_METRICS:
            add(p, _SPAN_METRICS[s.name], s.end - s.start)
        if s.layer == "queries" and s.name.startswith("queries.q"):
            add(p, "queries.build_s", s.end - s.start)
        if p in per_pass:
            self_by_layer[s.layer] = self_by_layer.get(s.layer, 0.0) + self_s[s.sid] / len(timed)
    for op_id, c in counters.items():
        p = pass_of(op_id)
        for name, field in _COUNTER_METRICS.items():
            add(p, name, getattr(c, field))
        if p in per_pass:
            per_pass[p]["spark.task_skew"] = max(per_pass[p].get("spark.task_skew", 0.0), c.task_skew)
    for p in timed:
        e = bench.pass_extra.get(p, {})
        sc = tracing.stream_counters(bench.stream_progress.get(p, []))
        per_pass[p] |= {
            "sources.files_written": e.get("files_written", 0),
            "queries.drain_s": e.get("drain_s", 0.0),
            "spark.plan_ms": e.get("plan_ms", 0.0),
            "operators.fallback_join_matched_ratio": e["matched"] / e["matched_of"] if e.get("matched_of") else 0.0,
            "streaming.batch_s": _median(sc["batch_s"]),
            "streaming.plan_s": _median(sc["plan_s"]),
            "streaming.add_batch_s": _median(sc["add_batch_s"]),
            "streaming.state_rows": sc["state_rows"],
            "streaming.state_mem_bytes": sc["state_mem_bytes"],
        }
    names = sorted({k for d in per_pass.values() for k in d})
    return {k: _median([per_pass[p].get(k, 0.0) for p in timed]) for k in names}, self_by_layer


END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", default=os.path.join(HERE, "pins.json"), help="pinned digests to check against")
    ap.add_argument("--write-pins", action="store_true", help="record this run's digests into --pins")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "waterdata_spark")) or not os.path.isdir(os.path.join(root, "fixtures", "w")):
        print("perfbench: run from the repository root (waterdata_spark/ and fixtures/w/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(args.pins) as fh:
        pins = json.load(fh)

    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    env = launcher_env(root, work)
    os.environ.update(env)
    print("launcher " + json.dumps(env, sort_keys=True), flush=True)

    import workloads

    make_inputs, run_pass = workloads.WORKLOADS[args.workload]
    manifest = make_inputs(root, work, args.seed)
    print("inputs " + json.dumps({k: manifest[k] for k in ("input_rows", "input_bytes", "sha256")} | {"seed": args.seed}), flush=True)

    bench = Bench(args, work, pins)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:6]}"
    extra_conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, resident from the start: no heap resizing,
        # and the resident size does not depend on how far a pass got
        "spark.driver.extraJavaOptions": f"-Xms{env['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch -Djava.io.tmpdir={env['TMPDIR']} -Dderby.system.home={env['TMPDIR']}",
    }
    if bench.trace:
        log_dir = os.path.join(work, "eventlog", run_id)
        os.makedirs(log_dir)
        extra_conf |= _TRACE_CONF | {"spark.eventLog.dir": "file://" + log_dir}
        bench.tracer = tracing.Tracer()
        tracing.instrument(bench.tracer)

    # ---- set-up: session + warm-up passes ------------------------------
    t_setup = time.perf_counter()
    from pyspark import SparkContext

    from waterdata_spark import session

    spark = bench.spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
    session_start_s = time.perf_counter() - t_setup
    jvm = SparkContext._gateway.proc.pid
    t_warm = time.perf_counter()
    for _ in range(WARM_PASSES[args.workload]):
        run_pass(bench, -1, manifest)
    warm_s = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_setup

    # ---- timed passes ---------------------------------------------------
    n_pass = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    sampler = procfs.RssSampler(jvm).start()
    sampler.reset()
    load0 = procfs.load_avg_1m()
    walls, cpus = [], []
    steal0 = procfs.host_steal_ticks()
    for p in range(n_pass):
        c0, w0 = procfs.tree_cpu_s(jvm), time.perf_counter()
        run_pass(bench, p, manifest)
        walls.append(time.perf_counter() - w0)
        cpus.append(procfs.tree_cpu_s(jvm) - c0)
    steal1 = procfs.host_steal_ticks()
    peak_rss = sampler.peak()
    sampler.stop()
    load1 = procfs.load_avg_1m()
    _stop_spark(spark)

    timed_ops = [op for p, op in bench.ops if p >= 0]
    warm_failed = [op.id for p, op in bench.ops if p < 0 and not op.ok]
    attempted, failed = len(timed_ops), sum(not op.ok for op in timed_ops)
    times = [op.seconds for op in timed_ops]
    pct, tail = tail_percentile(times)
    wall_s = _median(walls)
    values = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "rows_per_s": manifest["input_rows"] / wall_s,
        "op_p50_s": _median(times),
        "op_tail_s": tail,
        "cpu_s": _median(cpus),
        "peak_rss_mb": peak_rss / 2**20,
        "failed_frac": failed / attempted,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_id": run_id,
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()},
        "op_tail_percentile": pct,
        "ops": attempted,
        "passes": n_pass,
        "pass_wall_s": walls,
        "pass_cpu_s": cpus,
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "session_start_s": session_start_s,
        "warm_pass_s": warm_s,
        "load_avg_1m": [load0, load1],
        "warm_up_failed": warm_failed,
        "op_s": {op.id: round(op.seconds, 4) for _, op in bench.ops},
        "failed_ops": [(op.id, op.error) for op in timed_ops if not op.ok][:20],
    }
    if bench.trace:
        (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        counters = tracing.parse_event_log(
            log, lambda group, props: group if pass_of(group) is not None else bench.stream_runs.get(group)
        )
        layer, self_s = layer_metrics(bench, list(range(n_pass)), counters)
        layer |= {"session.start_s": session_start_s, "session.warm_s": warm_s}
        untraced = _latest_result(work, args.workload, args.seed)
        record["tracing_overhead_wall_s"] = wall_s - untraced["wall_s"] if untraced else None
        side = {
            **record,
            "per_layer": layer,
            "self_s_by_layer": self_s,
            "untraced_run": untraced["run_id"] if untraced else None,
            "spans": [s.__dict__ for s in bench.tracer.spans],
            "stream_progress": bench.stream_progress,
        }
        side_path = os.path.join(work, "trace", run_id + ".json")
        os.makedirs(os.path.dirname(side_path), exist_ok=True)
        with open(side_path, "w") as fh:
            json.dump(side, fh)
        record["trace_file"] = os.path.relpath(side_path, root)
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in per_layer_units.items()}
    else:
        os.makedirs(os.path.join(work, "results"), exist_ok=True)
        with open(os.path.join(work, "results", run_id + ".json"), "w") as fh:
            json.dump({"run_id": run_id, "workload": args.workload, "seed": args.seed, "wall_s": wall_s, "t": time.time()}, fh)
        metrics = {k: {"value": values[k], "unit": u} for k, u in e2e.items()}
    if args.write_pins:
        pins.setdefault(args.workload, {}).update(bench.observed)
        with open(args.pins, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print("record " + json.dumps(record), flush=True)
    correct = failed == 0 and not warm_failed
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0


def _latest_result(work: str, workload: str, seed: int) -> dict | None:
    """The newest untraced result of this workload, same seed first."""
    d = os.path.join(work, "results")
    rs = []
    for f in os.listdir(d) if os.path.isdir(d) else []:
        with open(os.path.join(d, f)) as fh:
            r = json.load(fh)
        if r["workload"] == workload:
            rs.append((r["seed"] == seed, r["t"], r))
    return max(rs, key=lambda x: x[:2])[2] if rs else None


if __name__ == "__main__":
    sys.exit(main())
