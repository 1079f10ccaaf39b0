"""Instrumentation for the benchmark's traced run, kept outside the program.

Nothing here edits the program.  The traced run gets its per-layer numbers
from four sources:

- ``Tracer``: in-memory spans around the benchmark's calls into the
  program's public functions.  They are written out when the run ends.
- ``Py4jCounter``: counts the driver's py4j round trips.  It patches
  ``ClientServerConnection.send_command`` and restores it in a
  ``finally``.
- ``PhaseListener``: a py4j-callback ``QueryExecutionListener``.  It reads
  the Catalyst phase durations of every executed query.  A DataFrame's
  own tracker holds only parsing and analysis; a write optimizes and
  plans in its own ``QueryExecution``, which only a listener sees.
- ``harvest``: Spark's SQL and core status stores.  They give the SQL
  executions, jobs, stages and task metrics of one operation.  The
  listener bus is drained first, because an execution whose end event
  is still queued has no completion time yet.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time

PHASES = ("parsing", "analysis", "optimization", "planning")


class Tracer:
    """Spans (name, start, end, parent) recorded in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self.add(name, time.time(), None, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None, parent: int | None, **attrs) -> dict:
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def innermost(self, t: float, within: int) -> int:
        """Id of the deepest span under ``within`` whose interval holds ``t``."""
        best = within
        for s in self.spans:
            if s["end"] is not None and s["start"] <= t <= s["end"] and self._descends(s["id"], within):
                if self._depth(s["id"]) > self._depth(best):
                    best = s["id"]
        return best

    def _depth(self, sid: int) -> int:
        d = 0
        while self.spans[sid]["parent"] is not None:
            sid, d = self.spans[sid]["parent"], d + 1
        return d

    def _descends(self, sid: int, ancestor: int) -> bool:
        while sid is not None:
            if sid == ancestor:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            p = s["parent"]
            if p is None:
                continue
            parent = self.spans[p]
            lo, hi = max(s["start"], parent["start"]), min(s["end"], parent["end"])
            covered[p] = covered.get(p, 0.0) + max(0.0, hi - lo)
        return {s["id"]: (s["end"] - s["start"]) - covered.get(s["id"], 0.0) for s in self.spans}

    def self_time_by_name(self, root: int) -> dict[str, float]:
        """Self time summed per span name over the tree under ``root``."""
        selfs = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            if self._descends(s["id"], root):
                out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]]
        return out


class Py4jCounter:
    """Counts py4j round trips made from the main thread while entered."""

    def __init__(self) -> None:
        self.n = 0

    def __enter__(self) -> "Py4jCounter":
        import py4j.clientserver as cs

        self._cls = cs.ClientServerConnection
        self._orig = self._cls.send_command
        main, orig = threading.main_thread(), self._orig

        def counted(conn, *a, **kw):
            if threading.current_thread() is main:
                self.n += 1
            return orig(conn, *a, **kw)

        self._cls.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        self._cls.send_command = self._orig


class PhaseListener:
    """py4j callback implementing Spark's ``QueryExecutionListener``."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 - JVM interface
        self._record(func, qe, True)

    def onFailure(self, func, qe, exc):  # noqa: N802 - JVM interface
        self._record(func, qe, False)

    def _record(self, func, qe, ok: bool) -> None:
        row = {"func": func, "ok": ok, "at": time.time(), "phases_ms": {}}
        try:
            phases = qe.tracker().phases()
            for k in PHASES:
                opt = phases.get(k)
                if opt.isDefined():
                    row["phases_ms"][k] = opt.get().durationMs()
        except Exception as e:  # a callback must not raise into the JVM
            row["error"] = repr(e)
        self.rows.append(row)


@contextlib.contextmanager
def phase_listener(spark):
    """Register a ``PhaseListener`` on the session while entered."""
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    ensure_callback_server_started(gw)
    listener = PhaseListener()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        yield listener
    finally:
        drain_listener_bus(spark)
        manager.unregister(listener)


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def _path_rel(path: str, out_dir: str) -> str | None:
    path = path.removeprefix("file:")
    rel = os.path.relpath(path, out_dir)
    return None if rel.startswith("..") else rel


# the formatted physical plan names a write's target in the node's
# "Arguments:" line and a scan's input in its "Location:" line
_WRITE_RX = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n){0,4}?Arguments: ([^,\s]+)")
_SCAN_RX = re.compile(r"Location: \w+(?:\(\d+ paths?\))? ?\[([^\]]+)\]")


def classify(description: str, plan: str, out_dir: str, tables: tuple[str, ...]) -> str:
    """Name a SQL execution of the pipeline by the path it writes or reads."""
    m = _WRITE_RX.search(plan)
    if m:
        rel = _path_rel(m.group(1), out_dir)
        kind = "write"
    else:
        locs = _SCAN_RX.findall(plan)
        rel = _path_rel(locs[0].split(",")[0], out_dir) if len(locs) == 1 else None
        kind = "read"
    if rel is None:
        return "batch_check" if description.startswith("isEmpty") else "other"
    top = rel.split(os.sep)
    if top[0].startswith("_manifest"):
        return "manifest"
    if top[0] in tables:
        return f"table_write.{top[0]}" if kind == "write" else "recount"
    if top[0] in ("datasets", "reports") and len(top) > 1:
        return f"dataset.{top[1]}"
    return "other"


def _metric_values(store, e) -> dict[str, int]:
    """Integer SQL metrics of one execution, summed per metric name."""
    names = {}
    ms = e.metrics()
    for i in range(ms.size()):
        m = ms.apply(i)
        if m.metricType() == "sum":
            names[m.accumulatorId()] = m.name()
    out: dict[str, int] = {}
    values = store.executionMetrics(e.executionId())
    it = values.iterator()
    while it.hasNext():
        kv = it.next()
        name = names.get(kv._1())
        if name is not None:
            try:
                out[name] = out.get(name, 0) + int(str(kv._2()).replace(",", ""))
            except ValueError:
                pass
    return out


def harvest(spark, first_execution: int, out_dir: str, tables: tuple[str, ...]) -> dict:
    """SQL executions from ``first_execution`` on, with their stage metrics."""
    drain_listener_bus(spark)
    gw = spark.sparkContext._gateway
    sql_store = spark._jsparkSession.sharedState().statusStore()
    core_store = spark.sparkContext._jsc.sc().statusStore()
    total = sql_store.executionsCount()
    execs = sql_store.executionsList(first_execution, total - first_execution)
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    no_status = gw.jvm.java.util.ArrayList()
    executions, stage_ids, job_ids = [], set(), set()
    for i in range(execs.size()):
        e = execs.apply(i)
        done = e.completionTime()
        stages = [int(s) for s in e.stages().mkString(",").split(",") if s]
        jobs = [int(j) for j in e.jobs().keySet().mkString(",").split(",") if j]
        stage_ids.update(stages)
        job_ids.update(jobs)
        executions.append({
            "id": e.executionId(),
            "description": e.description(),
            "step": classify(e.description(), e.physicalPlanDescription(), out_dir, tables),
            "start": e.submissionTime() / 1000.0,
            "end": (done.get().getTime() if done.isDefined() else e.submissionTime()) / 1000.0,
            "jobs": len(jobs),
            "stages": stages,
            "metrics": _metric_values(sql_store, e),
        })
    stages = {}
    for sid in sorted(stage_ids):
        attempts = core_store.stageData(sid, False, no_status, False, no_quantiles)
        for k in range(attempts.size()):
            s = attempts.apply(k)
            if s.status().toString() == "SKIPPED":
                continue
            agg = stages.setdefault(sid, {"tasks": 0, "failed_tasks": 0, "run_ms": 0,
                                          "shuffle_write_bytes": 0, "spill_bytes": 0,
                                          "peak_exec_memory_bytes": 0, "input_bytes": 0,
                                          "output_bytes": 0, "output_records": 0})
            agg["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            agg["failed_tasks"] += s.numFailedTasks()
            agg["run_ms"] += s.executorRunTime()
            agg["shuffle_write_bytes"] += s.shuffleWriteBytes()
            agg["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            agg["peak_exec_memory_bytes"] = max(agg["peak_exec_memory_bytes"], s.peakExecutionMemory())
            agg["input_bytes"] += s.inputBytes()
            agg["output_bytes"] += s.outputBytes()
            agg["output_records"] += s.outputRecords()
    return {"executions": executions, "stages": stages, "jobs": len(job_ids)}


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def time_kernels(rows: list[dict], payloads: list[tuple[str, str, bytes]], repeats: int = 3) -> dict[str, float]:
    """Median microseconds per document of each extraction kernel, run
    directly on the workload's documents outside Spark."""
    from swisscourtrulingcorpus_spark.extraction.citations import extract_citations_py
    from swisscourtrulingcorpus_spark.extraction.cleaning import clean_text_py
    from swisscourtrulingcorpus_spark.extraction.composition import extract_composition_py
    from swisscourtrulingcorpus_spark.extraction.html import html_to_text_py
    from swisscourtrulingcorpus_spark.extraction.judgments import extract_judgments_py
    from swisscourtrulingcorpus_spark.extraction.pdf import extract_pdf_text_py
    from swisscourtrulingcorpus_spark.extraction.sections import split_sections_py

    sections = [
        {s["section"]: s["text"] for s in split_sections_py(r["raw_text"], r["lang"], r["spider"])}
        for r in rows
    ]
    inputs = {
        "html_to_text": (html_to_text_py,
                         [(p.decode("utf-8"), sp) for sp, ext, p in payloads if ext == "html"]),
        "pdf_text": (extract_pdf_text_py, [(p,) for _, ext, p in payloads if ext == "pdf"]),
        "clean_text": (clean_text_py, [(r["raw_text"], r["spider"]) for r in rows]),
        "split_sections": (split_sections_py, [(r["raw_text"], r["lang"], r["spider"]) for r in rows]),
        "judgments": (extract_judgments_py,
                      [(s.get("rulings"), r["lang"]) for s, r in zip(sections, rows)]),
        "citations": (extract_citations_py, [(s.get("considerations"),) for s in sections]),
        "composition": (extract_composition_py, [(s.get("header"),) for s in sections]),
    }
    out = {}
    for name, (fn, args) in inputs.items():
        passes = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for a in args:
                fn(*a)
            passes.append(time.perf_counter() - t0)
        out[name] = statistics.median(passes) * 1e6 / max(1, len(args))
    return out
