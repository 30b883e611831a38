"""Tracing for the benchmark's traced runs.

Three sources, all read from outside the library:

* **Spans.** :func:`instrument` wraps every public function of the
  layer modules (``waterdata_spark.<layer>...``) and patches each module
  attribute that refers to it, so calls between layers are recorded too.
  A span is (name, layer, start, end, parent, op). Spans stay in memory
  and are written once, when the run ends. Self time is a span's
  duration minus the part of it its children cover.
* **Spark's event log.** Every op runs in its own job group, so jobs,
  stages, tasks, SQL plans and block updates in the (uncompressed,
  non-rolling) log are attributed to the op that started them.
  :func:`parse_event_log` folds them into per-op counters.
* **Streaming progress.** ``StreamingQuery.recentProgress`` per query,
  folded by :func:`stream_counters`.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import threading
import time
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "functions", "operators", "pipelines", "plans", "queries", "streaming")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory span store. ``op`` is the id of the op being run; the
    benchmark sets it around each op."""

    spans: list[Span] = field(default_factory=list)
    op: str | None = None
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        sid = len(self.spans)
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, stack[-1] if stack else None, self.op, sid))
        stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._stack().pop()

    def span(self, name: str, layer: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sid = tracer.begin(name, layer)
                return self

            def __exit__(self, *exc):
                tracer.end(self.sid)
                return False

        return _Ctx()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the parent), so overlapping children are not counted twice."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = (s.end - s.start) - covered
    return out


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if len(parts) < 2 or parts[0] != "waterdata_spark":
        return None
    layer = parts[1]
    return layer if layer in LAYERS else None


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        sid = tracer.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.end(sid)

    return traced


def instrument(tracer: Tracer) -> dict[str, str]:
    """Wrap every public plain function defined in a layer module and
    repoint every module attribute that holds it. Returns
    ``{qualified name: layer}`` of what was wrapped.

    The wrapper keeps the original's ``__module__``/``__qualname__`` and
    is installed under the original's name, so cloudpickle still ships
    it to Python workers by reference (the workers import the plain
    module)."""
    import waterdata_spark

    modules = [waterdata_spark]
    for info in pkgutil.walk_packages(waterdata_spark.__path__, "waterdata_spark."):
        modules.append(importlib.import_module(info.name))
    wrapped: dict[int, object] = {}
    names: dict[str, str] = {}
    for mod in modules:
        layer = layer_of(mod.__name__)
        if layer is None:
            continue
        for attr, obj in vars(mod).items():
            if (
                attr.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
                or hasattr(obj, "evalType")
            ):
                continue
            qual = f"{mod.__name__.removeprefix('waterdata_spark.')}.{attr}"
            wrapped[id(obj)] = _wrap(tracer, obj, qual, layer)
            names[qual] = layer
    for mod in modules:
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
    return names


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_NODE_HINTS = ("Python", "Arrow", "Pandas")


def _walk_plan(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk_plan(c)


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    scan_rows: int = 0
    scan_bytes: int = 0
    write_bytes: int = 0
    write_s: float = 0.0
    exchanges: int = 0
    task_skew: float = 0.0
    python_rows: int = 0
    python_bytes: int = 0
    block_rdds: int = 0
    block_bytes: int = 0


def parse_event_log(path: str, op_of_group) -> dict[str, OpCounters]:
    """Fold a Spark JSON-lines event log into per-op counters.

    ``op_of_group(job_group, properties)`` maps a job's group id (and its
    local properties, for streaming batch ids) to an op id, or None for
    jobs outside any op. Stage, task and SQL-execution events are
    attributed through the job that owns them; block updates, which
    carry no job, go to the op of the most recently started job."""
    ops: dict[str, OpCounters] = {}
    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_wrote: set[int] = set()
    acc_updates: dict[int, int] = {}
    last_op: str | None = None
    seen_blocks: dict[str, set[int]] = {}

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                op = op_of_group(props.get("spark.jobGroup.id"), props)
                if op is None:
                    continue
                last_op = op
                c = ops.setdefault(op, OpCounters())
                c.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_op[sid] = op
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_op.setdefault(int(eid), op)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                exec_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev.get("Stage ID"))
                if op is None:
                    continue
                c = ops[op]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                c.tasks += 1
                run_ms = m.get("Executor Run Time", 0)
                c.task_run_s += run_ms / 1e3
                c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.gc_s += m.get("JVM GC Time", 0) / 1e3
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                c.scheduler_delay_s += max(
                    0,
                    dur
                    - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0),
                ) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c.shuffle_fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
                c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                c.spill_bytes += m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics", {})
                c.scan_rows += im.get("Records Read", 0)
                c.scan_bytes += im.get("Bytes Read", 0)
                wb = m.get("Output Metrics", {}).get("Bytes Written", 0)
                if wb > 0:
                    c.write_bytes += wb
                    stage_wrote.add(ev["Stage ID"])
                stage_tasks.setdefault(ev["Stage ID"], []).append(float(dur))
                for a in info.get("Accumulables", []):
                    upd = a.get("Update")
                    if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                        acc_updates[a["ID"]] = acc_updates.get(a["ID"], 0) + int(upd)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                op = stage_op.get(si["Stage ID"])
                if op is None:
                    continue
                ops[op].stages += 1
                if si["Stage ID"] in stage_wrote:
                    ops[op].write_s += (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
            elif kind == "SparkListenerBlockUpdated":
                bu = ev.get("Block Updated Info", {})
                bid = bu.get("Block ID", "")
                if last_op is None or not bid.startswith("rdd_"):
                    continue
                size = bu.get("Memory Size", 0) + bu.get("Disk Size", 0)
                if size <= 0:
                    continue
                c = ops[last_op]
                rdd = int(bid.split("_")[1])
                seen = seen_blocks.setdefault(last_op, set())
                if rdd not in seen:
                    seen.add(rdd)
                    c.block_rdds += 1
                c.block_bytes += size

    # per-op: write time, skew, exchanges and Python-node metrics
    for sid, op in stage_op.items():
        durs = stage_tasks.get(sid)
        c = ops[op]
        if durs and len(durs) >= 2:
            med = statistics.median(durs)
            if med > 0:
                c.task_skew = max(c.task_skew, max(durs) / med)
    for eid, op in exec_op.items():
        plan = exec_plan.get(eid)
        if plan is None:
            continue
        c = ops[op]
        for node in _walk_plan(plan):
            name = node.get("nodeName", "")
            if name == "Exchange" or name.startswith("Exchange "):
                c.exchanges += 1
            if any(h in name for h in _PY_NODE_HINTS) and "Exchange" not in name:
                for met in node.get("metrics", []):
                    v = acc_updates.get(met.get("accumulatorId"), 0)
                    if met.get("name") == "number of output rows":
                        c.python_rows += v
                    elif "Python workers" in met.get("name", ""):
                        c.python_bytes += v
    return ops


def plan_phase_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s
    query execution, from Catalyst's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def stream_counters(progress: list[dict]) -> dict[str, list[float] | float]:
    """Per micro-batch times and the final state size from a query's
    ``recentProgress``. Batches with no input rows are skipped."""
    batch_s, plan_s, add_s = [], [], []
    state_rows = state_mem = 0
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs", {})
        batch_s.append(d.get("triggerExecution", 0) / 1e3)
        plan_s.append((d.get("getBatch", 0) + d.get("queryPlanning", 0) + d.get("latestOffset", 0)) / 1e3)
        add_s.append(d.get("addBatch", 0) / 1e3)
        ops = p.get("stateOperators") or []
        state_rows = sum(o.get("numRowsTotal", 0) for o in ops)
        state_mem = sum(o.get("memoryUsedBytes", 0) for o in ops)
    return {"batch_s": batch_s, "plan_s": plan_s, "add_batch_s": add_s, "state_rows": state_rows, "state_mem_bytes": state_mem}
