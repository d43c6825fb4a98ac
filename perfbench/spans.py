"""Per-layer tracing, read from outside the engine.

Every op call gets two spans, ``construct`` (the registry call that
builds the DataFrame, including any eager side jobs and, for streaming
ops, the whole drain) and ``fetch`` (``toArrow``). Each span runs under
its own Spark job group, so its child spans are the Spark jobs the
status tracker files under that group. Micro-batch jobs run on the
stream's own thread under a job group named after the query's run id,
which a ``StreamingQueryListener`` records together with per-trigger
progress; those jobs and triggers become children of the ``construct``
span that started the stream.

Spans are kept in memory and read back from Spark's status store once
a measured phase has ended, so the reads cost nothing inside it.
"""

from __future__ import annotations

import datetime
import re
import statistics
import threading
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: Physical operators that run Python workers. An op counts as a Python
#: op (``api.*``) when the plan of the DataFrame it returns has one.
_PYTHON_NODE = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsIn\w+|FlatMapCoGroupsIn\w+|"
    r"AggregateInPandas|WindowInPandas|ArrowAggregatePython|"
    r"ArrowWindowPython|\w*PythonUDTF)"
)


@dataclass
class Call:
    """One op call: what the client saw, plus the tracing handles."""

    op: str
    client: int
    start: float  # epoch seconds: the client's own clock
    end: float = 0.0
    built: float = 0.0  # construct returned, fetch began
    table: object = None  # pyarrow.Table
    error: str | None = None
    group: str | None = None  # job-group prefix when traced
    df: object = None  # the returned DataFrame, kept until collected


@dataclass
class _Stream:
    run_id: str
    started: float
    progress: list = field(default_factory=list)


class _Listener(StreamingQueryListener):
    """Records each stream's run id, start time and trigger progress."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.streams: dict[str, _Stream] = {}

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.streams[str(event.runId)] = _Stream(
                str(event.runId), _epoch(event.timestamp)
            )

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.lock:
            s = self.streams.get(str(p.runId))
            if s is not None:
                s.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _epoch(ts: str) -> float:
    """Spark's ISO-8601 UTC progress timestamp as epoch seconds."""
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class _Job:
    job_id: int
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """Job groups per span, a streaming listener, and the read-back of
    Spark's status store into spans and per-layer metrics."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._next = 0
        self._lock = threading.Lock()
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def new_group(self) -> str:
        with self._lock:
            self._next += 1
            return f"perfbench-{self._next}"

    def enter(self, group: str, part: str) -> None:
        """File the calling thread's next jobs under ``group``/``part``."""
        self.sc.setJobGroup(f"{group}-{part}", f"perfbench {part}", False)

    def leave(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # ---- read-back -------------------------------------------------

    def _jobs(self, group: str) -> list[_Job]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = []
        for jid in tracker.getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
            end = comp.get().getTime() / 1000 if comp.isDefined() else start
            job = _Job(jid, start, end)
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                job.stages += 1
                job.tasks += sd.numTasks()
                job.run_s += sd.executorRunTime() / 1e3
                job.cpu_s += sd.executorCpuTime() / 1e9
                job.shuffle_write += sd.shuffleWriteBytes()
                job.shuffle_read += sd.shuffleReadBytes()
                job.input_bytes += sd.inputBytes()
                job.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            jobs.append(job)
        return jobs

    def collect(self, calls: list[Call]) -> tuple[list[dict], dict[str, float]]:
        """Spans and summed per-layer numbers for the traced ``calls``.

        Returns the span list and raw sums; :func:`layer_metrics` turns
        the sums into per-pass metrics."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        with self.listener.lock:
            streams = list(self.listener.streams.values())
        spans: list[dict] = []
        s: dict[str, float] = dict.fromkeys(_SUM_KEYS, 0.0)
        batch_ms: list[float] = []
        for n, c in enumerate(calls):
            if c.error is not None or c.group is None:
                continue
            cons = self._jobs(f"{c.group}-construct")
            fetch = self._jobs(f"{c.group}-fetch")
            mine = [st for st in streams if c.start <= st.started <= c.built]
            stream_jobs = [j for st in mine for j in self._jobs(st.run_id)]
            cid = f"{n}.c"
            fid = f"{n}.f"
            spans.append(_span(cid, None, "construct", c.op, c.start, c.built))
            spans.append(_span(fid, None, "fetch", c.op, c.built, c.end))
            for layer, parent, jobs in (
                ("operators", cid, cons),
                ("streaming", cid, stream_jobs),
                ("exec", fid, fetch),
            ):
                for j in jobs:
                    sp = _span(f"{parent}.j{j.job_id}", parent, "job", c.op, j.start, j.end)
                    sp.update(layer=layer, stages=j.stages, tasks=j.tasks,
                              executor_run_s=j.run_s, executor_cpu_s=j.cpu_s)
                    spans.append(sp)
            for st in mine:
                for p in st.progress:
                    t0 = _epoch(p.timestamp)
                    sp = _span(f"{cid}.b{p.batchId}", cid, "trigger", c.op,
                               t0, t0 + p.batchDuration / 1e3)
                    sp.update(layer="streaming", input_rows=p.numInputRows)
                    spans.append(sp)
                    batch_ms.append(float(p.batchDuration))
                    s["streaming.triggers"] += 1
                    s["streaming.input_rows"] += p.numInputRows
                    s["streaming.state_rows_updated"] += sum(
                        o.numRowsUpdated for o in p.stateOperators
                    )
                if st.progress:
                    last = st.progress[-1].stateOperators
                    s["streaming.state_rows_total"] += sum(o.numRowsTotal for o in last)
                    s["streaming.state_memory_bytes"] += sum(o.memoryUsedBytes for o in last)
            if mine:
                s["streaming.drain_s"] += c.built - c.start
            cons_dur = c.built - c.start
            fetch_dur = c.end - c.built
            s["calls"] += 1
            s["operators.construct_s"] += cons_dur
            s["operators.construct_self_s"] += cons_dur - _union(
                [(j.start, j.end) for j in cons + stream_jobs], c.start, c.built
            )
            s["operators.construct_jobs"] += len(cons)
            s["operators.construct_stages"] += sum(j.stages for j in cons)
            s["streaming.jobs"] += len(stream_jobs)
            s["streaming.executor_run_s"] += sum(j.run_s for j in stream_jobs)
            for j in fetch:
                s["exec.jobs"] += 1
                s["exec.stages"] += j.stages
                s["exec.tasks"] += j.tasks
                s["exec.executor_run_s"] += j.run_s
                s["exec.executor_cpu_s"] += j.cpu_s
                s["exec.shuffle_write_bytes"] += j.shuffle_write
                s["exec.shuffle_read_bytes"] += j.shuffle_read
                s["exec.input_bytes"] += j.input_bytes
                s["exec.spill_bytes"] += j.spill_bytes
            every = cons + stream_jobs + fetch
            s["busy_run_s"] += sum(j.run_s for j in every)
            s["fetch.s"] += fetch_dur
            s["fetch.self_s"] += fetch_dur - _union(
                [(j.start, j.end) for j in fetch], c.built, c.end
            )
            s["fetch.tail_s"] += max(
                0.0, c.end - max((j.end for j in fetch), default=c.built)
            )
            s["fetch.result_rows"] += c.table.num_rows
            s["fetch.result_bytes"] += c.table.nbytes
            qe = c.df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                o = phases.get(ph)
                if o.isDefined():
                    s[f"catalyst.{ph}_ms"] += o.get().durationMs()
            if _PYTHON_NODE.search(qe.executedPlan().toString()):
                s["api.python_ops"] += 1
                s["py_run_s"] += sum(j.run_s for j in cons + fetch)
                s["py_cpu_s"] += sum(j.cpu_s for j in cons + fetch)
            c.df = None
        s["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
        return spans, s


_SUM_KEYS = (
    "calls",
    "operators.construct_s",
    "operators.construct_self_s",
    "operators.construct_jobs",
    "operators.construct_stages",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.executor_run_s",
    "exec.executor_cpu_s",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "exec.input_bytes",
    "exec.spill_bytes",
    "busy_run_s",
    "api.python_ops",
    "py_run_s",
    "py_cpu_s",
    "fetch.s",
    "fetch.self_s",
    "fetch.tail_s",
    "fetch.result_rows",
    "fetch.result_bytes",
    "streaming.triggers",
    "streaming.input_rows",
    "streaming.state_rows_total",
    "streaming.state_rows_updated",
    "streaming.state_memory_bytes",
    "streaming.jobs",
    "streaming.executor_run_s",
    "streaming.drain_s",
)

#: Sums reported per pass (scaled by ops-per-pass / traced calls).
_PER_PASS = tuple(
    k for k in _SUM_KEYS
    if k not in ("calls", "busy_run_s", "py_run_s", "py_cpu_s", "streaming.drain_s")
)


def _span(sid, parent, name, op, start, end) -> dict:
    return {"id": sid, "parent": parent, "name": name, "op": op,
            "start": start, "end": end}


def layer_metrics(s: dict[str, float], ops_per_pass: int, wall_s: float,
                  cpus: int) -> dict[str, float]:
    """Per-pass layer metrics from the sums of :meth:`Tracer.collect`.

    ``wall_s`` is the traced phase's wall time, so ``exec.slot_busy_frac``
    is the share of the ``cpus`` task slots that executors kept busy."""
    k = ops_per_pass / s["calls"] if s["calls"] else 0.0
    out = {name: s[name] * k for name in _PER_PASS}
    out["streaming.batch_p50_ms"] = s["streaming.batch_p50_ms"]
    out["streaming.events_per_s"] = (
        s["streaming.input_rows"] / s["streaming.drain_s"] if s["streaming.drain_s"] else 0.0
    )
    out["exec.slot_busy_frac"] = s["busy_run_s"] / (wall_s * cpus) if wall_s else 0.0
    out["api.offcpu_frac"] = 1 - s["py_cpu_s"] / s["py_run_s"] if s["py_run_s"] else 0.0
    return out


#: Every per-layer metric a traced run prints, with its unit.
LAYER_UNITS = {
    "registry.import_s": "s",
    "session.get_spark_s": "s",
    "io.load_table_s": "s",
    "operators.construct_s": "s",
    "operators.construct_self_s": "s",
    "operators.construct_jobs": "count",
    "operators.construct_stages": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.input_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.slot_busy_frac": "ratio",
    "api.python_ops": "count",
    "api.offcpu_frac": "ratio",
    "fetch.s": "s",
    "fetch.self_s": "s",
    "fetch.tail_s": "s",
    "fetch.result_rows": "count",
    "fetch.result_bytes": "B",
    "streaming.triggers": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.jobs": "count",
    "streaming.executor_run_s": "s",
    "streaming.events_per_s": "events/s",
    "host.calib_s": "s",
    "host.calib_end_s": "s",
    "trace.overhead_s": "s",
    "trace.span_cover_frac": "ratio",
}
