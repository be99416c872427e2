"""Per-layer tracing, measured from outside the package.

Nothing here changes package code. The tracer

- times the benchmark's own calls into each layer (construct is
  ``REGISTRY[name].fn()``, plan is ``queryExecution().executedPlan()``,
  execute is the noop write) and records them as spans;
- wraps ``catalog.load_table`` from outside to time and count catalog loads;
- registers a ``StreamingQueryListener`` for micro-batch progress;
- reads Spark's job, stage and SQL-execution status stores right after each
  query, because the stores keep only the last ~1000 of each. Jobs and
  executions are attributed to the phase whose span holds their submission
  time. Spark runs broadcast and streaming jobs under job groups of its own,
  so a job group set by the benchmark would miss them; the span windows
  do not.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from collections import defaultdict

# Plan nodes that run Python or Arrow workers.
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_METRIC = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def _key(phase: str, stat: str) -> str:
    """A phase counter's metric name: ``construct_jobs``, ``execute.jobs``."""
    return f"{phase}_{stat}" if phase == "construct" else f"{phase}.{stat}"


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric as a number: bytes, milliseconds or a count.
    Per-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _METRIC.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Tracer:
    """Spans and per-layer counters for one worker process."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.status = self.sc._jsc.sc().statusStore()
        self.sql_status = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        scala = jvm.com.fasterxml.jackson.module.scala
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query = None
        self.pass_index = -1
        self.acc: dict[str, float] = defaultdict(float)
        self._seen_handles: dict[tuple, object] = {}
        self._next_job = 0
        self._next_exec = 0
        self._seen_stages: set[int] = set()
        self._stream_lock = threading.Lock()
        self._install_catalog_wrapper()
        self._install_stream_listener()
        self.sync()

    # -- spans ---------------------------------------------------------
    def begin(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.query, "pass": self.pass_index,
        })
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> float:
        self._stack.pop()
        span = self.spans[idx]
        span["end"] = time.time()
        return span["end"] - span["start"]

    def unwind(self) -> None:
        """After a query raised: close its open spans and skip past the jobs
        and executions it left in the stores."""
        while self._stack:
            self.end(self._stack[-1])
        self.sync()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)

    # -- catalog wrapper -----------------------------------------------
    def _install_catalog_wrapper(self) -> None:
        from rws_data_ingester_spark import catalog

        original = catalog.load_table
        tracer = self

        def load_table(spark, sf_dir, name):
            if not tracer.on:
                return original(spark, sf_dir, name)
            idx = tracer.begin("catalog.load_table")
            try:
                df = original(spark, sf_dir, name)
            finally:
                took = tracer.end(idx)
            key = (id(spark), os.path.abspath(sf_dir), name)
            tracer.acc["catalog.calls"] += 1
            tracer.acc["catalog.load_s"] += took
            tracer.acc["catalog.hits"] += tracer._seen_handles.get(key) is df
            tracer._seen_handles[key] = df
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("rws_data_ingester_spark"):
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, load_table)

    # -- streaming listener --------------------------------------------
    def _install_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._stream_lock:
                    tracer.acc["streaming.queries"] += tracer.on

            def onQueryProgress(self, event):
                if not tracer.on:
                    return
                p = event.progress
                with tracer._stream_lock:
                    tracer.acc["streaming.batches"] += 1
                    tracer.acc["streaming.input_rows"] += p.numInputRows
                    tracer.acc["streaming.batch_ms"] += p.durationMs.get("triggerExecution", 0)
                    tracer.acc["streaming.state_rows"] += sum(
                        s.numRowsTotal for s in p.stateOperators
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    # -- status stores -------------------------------------------------
    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def sync(self) -> None:
        """Skip past everything the stores hold now."""
        self.bus.waitUntilEmpty()
        self._read_jobs()
        self._read_executions()

    def _read_jobs(self) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        jobs = []
        while True:
            try:
                jobs.append(self._json(self.status.job(self._next_job)))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jobs
            self._next_job += 1

    def _read_executions(self) -> list[dict]:
        out = []
        while True:
            found = self.sql_status.execution(self._next_exec)
            if not found.isDefined():
                return out
            eid = self._next_exec
            self._next_exec += 1
            out.append({
                "submissionTime": self._json(found.get())["submissionTime"],
                "nodes": self._json(self.sql_status.planGraph(eid).allNodes()),
                "values": self._json(self.sql_status.executionMetrics(eid)),
            })

    def collect(self, windows: dict[str, tuple[float, float]], head: str | None = None) -> None:
        """Attribute the jobs, stages and SQL executions since the last
        call to the phase windows (name -> (start, end) epoch seconds).
        A ``head`` query also gets its own construct job count."""
        self.bus.waitUntilEmpty()
        ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
        catalog = [
            (s["start"], s["end"]) for s in self.spans
            if s["name"] == "catalog.load_table" and s["query"] == self.query
            and s["pass"] == self.pass_index
        ]

        def phase_of(ms: float) -> str | None:
            t = ms / 1000.0
            name = None
            for phase, (start, _end) in ordered:
                if t >= start - 0.0005:
                    name = phase
            return name

        acc = self.acc
        for job in self._read_jobs():
            phase = phase_of(job["submissionTime"])
            if phase is None:  # started before this query
                continue
            acc[_key(phase, "jobs")] += 1
            if head is not None and phase == "construct":
                acc[f"{head}.construct_jobs"] += 1
            t = job["submissionTime"] / 1000.0
            if any(s - 0.0005 <= t <= e + 0.0005 for s, e in catalog):
                acc["catalog.jobs"] += 1
            for sid in job["stageIds"]:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._json(self.status.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                acc[_key(phase, "stages")] += 1
                acc[_key(phase, "tasks")] += st["numCompleteTasks"] + st["numFailedTasks"]
                acc[_key(phase, "run_ms")] += st["executorRunTime"]
                acc[_key(phase, "cpu_ms")] += st["executorCpuTime"] / 1e6
                acc[_key(phase, "gc_ms")] += st["jvmGcTime"]
                acc[_key(phase, "input_bytes")] += st["inputBytes"]
                acc[_key(phase, "shuffle_read_bytes")] += st["shuffleReadBytes"]
                acc[_key(phase, "shuffle_write_bytes")] += st["shuffleWriteBytes"]
                acc[_key(phase, "spill_bytes")] += st["diskBytesSpilled"]
                acc[_key(phase, "result_bytes")] += st["resultSize"]
                acc["sink.bytes_written"] += st["outputBytes"]
        for ex in self._read_executions():
            phase = phase_of(ex["submissionTime"])
            if phase is None:
                continue
            values = ex["values"]
            for node in ex["nodes"]:
                python = bool(_PYTHON_NODE.search(node["name"]))
                for metric in node["metrics"]:
                    value = parse_metric(values.get(str(metric["accumulatorId"])))
                    name = metric["name"]
                    if node["name"] == "BroadcastExchange" and name == "data size":
                        acc[_key(phase, "broadcast_bytes")] += value
                    elif node["name"] == "BroadcastExchange" and name == "time to build":
                        acc[_key(phase, "broadcast_build_ms")] += value
                    elif name == "number of written files":
                        acc["sink.files_written"] += value
                    elif python and name == "time to run Python workers":
                        acc["functions.python_run_ms"] += value
                    elif python and name == "data sent to Python workers":
                        acc["functions.python_sent_bytes"] += value
