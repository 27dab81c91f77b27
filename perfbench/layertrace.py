"""Layer-boundary tracing for the benchmark's traced passes.

Spans are recorded only from the benchmark's own code: around each query
(``query``), around the ``REGISTRY[...].fn`` builder (``plans``), around
forcing the physical plan (``catalyst``), around the noop-sink execution
(``exec``), and around every public function of the engine's
``operators.*``, ``sources.io`` and ``streaming`` modules, patched where the
engine binds them while a traced query runs. Spans stay in memory until the
run ends.

Spark jobs are attributed to the innermost span that launched them: each
main-thread span sets its own job group, and jobs without one of those
groups (engine worker threads, streaming micro-batches) are attributed by
submission time. The status store is read after every query, because it
keeps only the last 1000 jobs and stages.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import threading
import time
import types
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from tmdb_spark_data_pipeline_spark.streaming import ProgressCapture

PKG = "tmdb_spark_data_pipeline_spark"
GROUP_PREFIX = "perfbench-span-"

#: Self-time buckets: the first part of a span's layer name.
SELF_LAYERS = ("query", "plans", "catalyst", "exec", "operators", "sources", "streaming")

_PLAN_OP = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)")


def layer_of(module: str) -> str | None:
    """The traced layer an engine module belongs to, or None if untraced."""
    if module.startswith(f"{PKG}.operators."):
        return "operators." + module.rsplit(".", 1)[1]
    if module == f"{PKG}.sources.io":
        return "sources.io"
    if module == f"{PKG}.streaming" or module.startswith(f"{PKG}.streaming."):
        return "streaming"
    return None


def count_plan_nodes(plan_text: str) -> tuple[int, int]:
    """(exchanges, scans) in a physical plan's tree string."""
    exchanges = scans = 0
    for line in plan_text.splitlines():
        m = _PLAN_OP.match(line)
        if not m:
            continue
        op = m.group(1)
        if op.endswith("Exchange"):
            exchanges += 1
        elif "Scan" in op:
            scans += 1
    return exchanges, scans


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    query: str | None
    main: bool
    start: float = 0.0
    end: float = 0.0
    py4j: int = 0


@dataclass
class Job:
    job_id: int
    span: int | None  # innermost attributed span
    by_group: bool
    stage_ids: list[int] = field(default_factory=list)


def self_times(spans: list[Span], idxs) -> dict[int, float]:
    """Self time of each main-thread span in ``idxs``: its duration minus the
    part of that interval its main-thread children cover. Children of one
    parent never overlap on one thread, so that part is the sum of their
    durations. Spans on other threads overlap freely and get no self time."""
    out = {i: spans[i].end - spans[i].start for i in idxs if spans[i].main}
    for i in idxs:
        s = spans[i]
        if s.main and s.parent in out:
            out[s.parent] -= s.end - s.start
    return out


def innermost_at(spans: list[Span], idxs, t: float) -> int | None:
    """The deepest main-thread span among ``idxs`` whose interval holds ``t``."""
    best = None
    for i in idxs:
        s = spans[i]
        if s.main and s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


def ancestors(spans: list[Span], idx: int | None):
    while idx is not None:
        yield idx
        idx = spans[idx].parent


@dataclass
class EpochCapture(ProgressCapture):
    """The engine's progress listener, plus each micro-batch's addBatch time."""

    add_batch_ms: list[int] = field(default_factory=list)

    def onQueryProgress(self, event) -> None:  # noqa: N802 (Spark API)
        super().onQueryProgress(event)
        self.add_batch_ms.append(int((event.progress.durationMs or {}).get("addBatch", 0)))


class Tracer:
    """Span recorder bound to one SparkContext. ``install`` patches the
    engine's layer functions and counts Py4J calls; ``uninstall`` restores
    both."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        #: stage id -> (tasks, executor run s, shuffle read MiB, shuffle write MiB)
        self.stages: dict[int, tuple[int, float, float, float]] = {}
        self.query: str | None = None
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._internal = False
        self._patched: list[tuple[types.ModuleType, str, object]] = []
        self._client = sc._gateway._gateway_client
        # JVM submission times are epoch ms; spans use perf_counter
        self._epoch_offset = time.time() - time.perf_counter()
        self.skip_jobs()

    @contextmanager
    def span(self, name: str, layer: str):
        main = threading.get_ident() == self._main
        # a span on another thread hangs under the main thread's current one
        try:
            parent = self._stack[-1]
        except IndexError:
            parent = None
        idx = len(self.spans)
        s = Span(name, layer, parent, self.query, main)
        self.spans.append(s)
        if main:
            self._stack.append(idx)
            self._set_group(idx)
        s.start = time.perf_counter()
        try:
            yield idx
        finally:
            s.end = time.perf_counter()
            if main:
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, idx: int | None) -> None:
        self._internal = True
        try:
            if idx is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc._jsc.setJobGroup(f"{GROUP_PREFIX}{idx}", self.spans[idx].name, False)
        finally:
            self._internal = False

    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if attr.startswith("_") or not isinstance(val, types.FunctionType):
                    continue
                layer = layer_of(val.__module__)
                if layer is None or val.__name__.startswith("_"):
                    continue
                if id(val) not in wrappers:
                    wrappers[id(val)] = self._wrap(val, layer, f"{layer}.{val.__name__}")
                self._patched.append((mod, attr, val))
                setattr(mod, attr, wrappers[id(val)])
        orig = self._client.send_command

        def counting(*args, **kwargs):
            if not self._internal and self._stack and threading.get_ident() == self._main:
                self.spans[self._stack[-1]].py4j += 1
            return orig(*args, **kwargs)

        self._client.send_command = counting

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()
        self._client.__dict__.pop("send_command", None)

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _job_counter(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def skip_jobs(self) -> None:
        """Leave the jobs launched so far (untraced work) unattributed."""
        self._next_job = self._job_counter()

    def collect_jobs(self, idxs: range) -> None:
        """Attribute every job launched since the last call to a span in
        ``idxs`` (the spans of the query that just ran), and keep the
        stats of each stage that ran. Called after every query: the status
        store keeps only the last 1000 jobs and stages."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        end = self._job_counter()
        for jid in range(self._next_job, end):
            data = store.job(jid)
            group = data.jobGroup().get() if data.jobGroup().isDefined() else ""
            by_group = group.startswith(GROUP_PREFIX)
            span = None
            if by_group:
                span = int(group[len(GROUP_PREFIX):])
            elif data.submissionTime().isDefined():
                t = data.submissionTime().get().getTime() / 1000.0 - self._epoch_offset
                span = innermost_at(self.spans, idxs, t)
            ids = data.stageIds()
            job = Job(jid, span, by_group, [int(ids.apply(i)) for i in range(ids.size())])
            self.jobs.append(job)
            for sid in job.stage_ids:
                if sid in self.stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                self.stages[sid] = (
                    int(st.numTasks()),
                    st.executorRunTime() / 1000.0,
                    st.shuffleReadBytes() / 2**20,
                    st.shuffleWriteBytes() / 2**20,
                )
        self._next_job = end


def tree_files(roots) -> dict[str, tuple[int, int, int]]:
    """(inode, size, mtime ns) of every file under ``roots``, by path."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                path = os.path.join(dirpath, f)
                try:
                    st = os.stat(path)
                except OSError:
                    continue
                out[path] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Size of the files in snapshot ``after`` that are new or rewritten
    since snapshot ``before`` (both from ``tree_files``)."""
    return sum(sig[1] for path, sig in after.items() if before.get(path) != sig)


@dataclass
class QueryRecord:
    """Bookkeeping of one traced query, taken after its span closed."""

    name: str
    spans: range
    wall: float
    exchanges: int = 0
    scans: int = 0
    write_bytes: int = 0
    gc_s: float = 0.0
    heap_mb: float = 0.0


class QueryTracer:
    """Runs traced queries and turns their spans, jobs and stages into the
    per-layer metrics."""

    def __init__(self, spark, scratch: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = Tracer(self.sc)
        self.scratch = scratch
        self.capture = EpochCapture()
        self.records: list[QueryRecord] = []
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._memory = mf.getMemoryMXBean()

    def _scratch_files(self) -> dict:
        return tree_files(glob.glob(os.path.join(self.scratch, "spark_graft_*")))

    def _gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def run(self, name: str, fn, sf_dir: str) -> float:
        """One traced execution of a query; returns its wall time."""
        tr = self.tracer
        gc0 = self._gc_s()
        files0 = self._scratch_files()
        tr.skip_jobs()
        self.capture.attach(self.spark)
        tr.install()
        first = len(tr.spans)
        tr.query = name
        plan = None
        try:
            with tr.span(name, "query") as root:
                with tr.span(f"plans.queries.{name}", "plans"):
                    df = fn(self.spark, sf_dir)
                if df.isStreaming:
                    with tr.span("exec.count", "exec"):
                        df.count()
                else:
                    with tr.span("catalyst.executedPlan", "catalyst"):
                        plan = df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.noop", "exec"):
                        df.write.mode("overwrite").format("noop").save()
        finally:
            tr.query = None
            tr.uninstall()
            idxs = range(first, len(tr.spans))
            tr.collect_jobs(idxs)
            self.capture.detach(self.spark)
        s = tr.spans[root]
        rec = QueryRecord(name, idxs, s.end - s.start)
        if plan is not None:
            rec.exchanges, rec.scans = count_plan_nodes(plan.toString())
        rec.write_bytes = written_bytes(files0, self._scratch_files())
        rec.gc_s = self._gc_s() - gc0
        rec.heap_mb = self._memory.getHeapMemoryUsage().getUsed() / 2**20
        self.records.append(rec)
        return rec.wall

    def metrics(self, untraced: dict, traced: dict, passes: int, get_spark_s: float) -> dict[str, float]:
        """Per-layer metrics, each per pass: totals over the traced
        executions divided by ``passes``; maxima and medians over all of
        them. ``untraced`` and ``traced`` map each query to its latencies."""
        spans, n = self.tracer.spans, max(passes, 1)
        m: dict[str, float] = defaultdict(float)
        layer_s: dict[str, float] = defaultdict(float)
        selftime = dict.fromkeys(SELF_LAYERS, 0.0)
        gap = 0.0
        for rec in self.records:
            st = self_times(spans, rec.spans)
            gap = max(gap, abs(sum(st.values()) - rec.wall))
            for i, v in st.items():
                selftime[spans[i].layer.split(".", 1)[0]] += v
            for i in rec.spans:
                s = spans[i]
                dur = s.end - s.start
                if s.layer == "plans":
                    m["plans.build_s"] += dur
                elif s.layer == "catalyst":
                    m["catalyst.plan_s"] += dur
                elif s.layer == "exec":
                    m["exec_s"] += dur
                elif s.layer != "query":
                    m[f"{s.layer}.calls"] += 1
                    # inclusive time, counted once per outermost span of a layer
                    if not any(spans[a].layer == s.layer for a in ancestors(spans, s.parent)):
                        layer_s[s.layer] += dur
                if s.main and any(spans[a].layer == "plans" for a in ancestors(spans, i)):
                    m["plans.build_py4j_calls"] += s.py4j
            m["catalyst.exchanges"] += rec.exchanges
            m["catalyst.scans"] += rec.scans
            m["sources.io.write_mb"] += rec.write_bytes / 2**20
            m["jvm.gc_s"] += rec.gc_s
            m["jvm.heap_used_mb"] = max(m["jvm.heap_used_mb"], rec.heap_mb)
        for layer, v in layer_s.items():
            m[f"{layer}.s"] = v

        for job in self.tracer.jobs:
            m["spark.jobs"] += 1
            m["spark.jobs_unattributed"] += not job.by_group
            on_path = {spans[a].layer for a in ancestors(spans, job.span)}
            for layer in on_path:
                if layer == "plans":
                    m["plans.build_jobs"] += 1
                elif layer not in ("query", "catalyst", "exec"):
                    m[f"{layer}.jobs"] += 1
        for tasks, run_s, read_mb, write_mb in self.tracer.stages.values():
            m["spark.stages"] += 1
            m["spark.tasks"] += tasks
            m["spark.executor_run_s"] += run_s
            m["spark.shuffle_read_mb"] += read_mb
            m["spark.shuffle_write_mb"] += write_mb

        cap = self.capture
        trig = [r[4] / 1000.0 for r in cap.rows]
        m["streaming.epochs"] = len(cap.rows)
        m["streaming.trigger_s"] = sum(trig)
        m["streaming.add_batch_s"] = sum(cap.add_batch_ms) / 1000.0
        m["streaming.epoch_p50_s"] = statistics.median(trig) if trig else 0.0
        m["trace.spans"] = len(spans)

        out = {k: v / n for k, v in m.items()}
        for k in ("jvm.heap_used_mb", "streaming.epoch_p50_s"):
            out[k] = m[k]
        out["streaming.state_rows"] = float(max((r[5] for r in cap.rows), default=0))
        for layer, v in selftime.items():
            out[f"selftime.{layer}_s"] = v / n
        out["trace.selftime_gap_s"] = gap
        cores = self.sc.defaultParallelism
        wall = sum(rec.wall for rec in self.records)
        out["spark.tasks_per_stage"] = m["spark.tasks"] / m["spark.stages"] if m["spark.stages"] else 0.0
        out["spark.parallel_eff"] = m["spark.executor_run_s"] / (wall * cores) if wall else 0.0
        u = sum(statistics.median(v) for v in untraced.values() if v)
        t = sum(statistics.median(v) for v in traced.values() if v)
        out["trace.overhead_frac"] = (t - u) / u if u else 0.0
        out["session.get_spark_s"] = get_spark_s
        return out

    def dump(self, out_dir: str, workload: str, seed: int) -> str:
        """Write every span and job of the run as JSON; returns the path."""
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{workload}-{seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.tracer.spans],
                    "jobs": [asdict(j) for j in self.tracer.jobs],
                },
                f,
            )
        return path
