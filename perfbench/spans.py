"""Spans around the benchmark's calls into the engine, and the counters
Spark's in-process status stores hold for the jobs each span launched.

Every span that can launch Spark jobs runs under its own job group,
``<op name>#<span id>``, so jobs are attributed exactly, from outside the
engine. The counters are resolved after a traced pass, once the listener
bus has drained: the status stores are fed asynchronously, so reading them
at the span boundary itself would miss the span's last jobs. Both stores
work with ``spark.ui.enabled=false``; nothing here talks to the UI's REST
API.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

# SQL metrics the Python-eval physical nodes (pandas UDFs, mapInPandas,
# applyInPandas, Arrow UDFs) carry; one "data sent" metric per node
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_SIZE_RE = re.compile(r"^([0-9.]+) (B|KiB|MiB|GiB|TiB)\b")

# per-span counters, summed over the stages of the span's jobs
COUNTERS = (
    "jobs", "stages", "tasks", "task_ms", "cpu_ns", "gc_ms",
    "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "py_sent_bytes", "py_recv_bytes", "py_nodes",
)


def _size_bytes(formatted: str) -> int:
    """Bytes from a formatted SQL size metric: either ``1.5 KiB`` or the
    multi-task form ``total (min, med, max ...)\\n1.5 KiB (...)``."""
    m = _SIZE_RE.match(formatted.strip().splitlines()[-1])
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else 0


class StatusReader:
    """Reads the AppStatusStore (jobs, stages) and the SQLAppStatusStore
    (SQL executions and their plan metrics) of one live SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala,
                    "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        self._seen_execution = -1

    def driver_gc_ms(self) -> int:
        """Total collection time of the JVM's garbage collectors."""
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_by_group(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for job in self._json(self._store.jobsList(None)):
            if job.get("jobGroup"):
                out.setdefault(job["jobGroup"], []).append(job)
        return out

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every retained stage, keyed by stage id."""
        out: dict[int, dict] = {}
        for st in self._json(self._store.stageList(
            None, False, False, self._no_quantiles, None
        )):
            prev = out.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                out[st["stageId"]] = st
        return out

    def python_by_job(self) -> dict[int, dict[str, int]]:
        """Python-edge SQL metrics of the executions recorded since the
        previous call, each keyed by the lowest job id it ran, so that
        every execution is charged once."""
        out: dict[int, dict[str, int]] = {}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = int(ex.executionId())
            if eid <= self._seen_execution:
                continue
            self._seen_execution = max(self._seen_execution, eid)
            job_ids = sorted(int(j) for j in self._json(ex.jobs()))
            if not job_ids:
                continue
            sent, recv = set(), set()
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() == _PY_SENT:
                    sent.add(int(m.accumulatorId()))
                elif m.name() == _PY_RECV:
                    recv.add(int(m.accumulatorId()))
            stats = {"py_sent_bytes": 0, "py_recv_bytes": 0, "py_nodes": 0}
            if sent or recv:
                values = self._json(self._sql.executionMetrics(eid))
                for acc in sent:
                    v = values.get(str(acc))
                    if v:
                        stats["py_sent_bytes"] += _size_bytes(v)
                        stats["py_nodes"] += 1
                for acc in recv:
                    v = values.get(str(acc))
                    if v:
                        stats["py_recv_bytes"] += _size_bytes(v)
            out[job_ids[0]] = stats
        return out


class Tracer:
    """Records spans in memory: name, start, end, parent span and op id.

    A disabled tracer hands out one shared no-op context, so the
    untraced run pays nothing per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.reader = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._null = contextlib.nullcontext()
        self._t0 = time.perf_counter()

    def bind(self, spark) -> None:
        """Attach the session once it exists; spans opened before this
        (the session start itself) set no job group."""
        self.spark = spark
        if self.enabled:
            self.reader = StatusReader(spark)

    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            return self._null
        return self._span(name, op)

    @contextlib.contextmanager
    def _span(self, name: str, op: str | None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "group": f"{op or name}#{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None and parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            elif sc is not None:
                sc._jsc.clearJobGroup()

    def resolve(self, spans: list[dict]) -> None:
        """Attach the status-store counters of each span's own jobs."""
        self.reader.drain()
        groups = self.reader.jobs_by_group()
        stages = self.reader.stages()
        python = self.reader.python_by_job()
        for rec in spans:
            c = dict.fromkeys(COUNTERS, 0)
            for job in groups.get(rec["group"], ()):
                c["jobs"] += 1
                for key, v in python.get(job["jobId"], {}).items():
                    c[key] += v
                for sid in job["stageIds"]:
                    st = stages.get(sid)
                    if st is None or st["status"] == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st["numCompleteTasks"]
                    c["task_ms"] += st["executorRunTime"]
                    c["cpu_ns"] += st["executorCpuTime"]
                    c["gc_ms"] += st["jvmGcTime"]
                    c["input_records"] += st["inputRecords"]
                    c["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    c["spill_bytes"] += st["diskBytesSpilled"]
            rec["counters"] = c

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Self time per span name: duration minus what children cover
        (children are sequential, so their durations simply add)."""
        child = {}
        for rec in spans:
            if rec["parent"] is not None:
                d = rec["end"] - rec["start"]
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + d
        out: dict[str, float] = {}
        for rec in spans:
            d = rec["end"] - rec["start"] - child.get(rec["id"], 0.0)
            out[rec["name"]] = out.get(rec["name"], 0.0) + d
        return out
