#!/usr/bin/env python3
"""Benchmark of the corpus build: scraper landing zone -> domain tables.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

Workloads (why each was chosen: perfbench/README.md):

- ``corpus_build``: the operation is a full build of an N-document landing
  zone into a fresh directory (``build_corpus_from_landing_zone`` with
  ``incremental=False``).
- ``incremental_append``: the operation is the incremental run over the
  landing zone plus K new documents, on a fresh copy of the pristine
  N-document corpus.  The pristine corpus is built once per checkout, in a
  separate process (untimed), and copied before each operation (untimed).

One process drives ``local[cores]`` with one operation at a time (closed
loop) and starts operations until ``--seconds`` have been measured.
``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
operations under layer instrumentation (perfbench/bench_trace.py), then
builds the datasets from each operation's output, and prints the
per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The line before it is
the run's report: provenance, contention sentinel, samples and checks.
The command exits non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

N_DOCS = 500
NEW_DOCS = 50
# incremental_append starts from a fixed base corpus, so one build of it
# serves every run in a checkout; the run's seed draws the new documents
BASE_SEED = 0
SETUP_REPEATS = 3
WARMUP_ROWS = 200_000
SENTINEL_MATRIX = 256
SENTINEL_LOOPS = 150
SENTINEL_REPEATS = 3
# sentinel after/before ratio beyond which a run marks itself contended
SENTINEL_TOLERANCE = 1.5

WORKLOADS = ("corpus_build", "incremental_append")

END_TO_END = {"setup_s": "s", "op_s": "s", "docs_per_s": "1/s"}

TABLES = ("decision", "section", "citation", "judgment", "composition",
          "lower_court", "participation")
DATASETS = ("judgment_prediction", "criticality", "pretraining", "doc2doc_ir",
            "regeste", "law_area", "coverage")
KERNELS = ("html_to_text", "pdf_text", "clean_text", "split_sections",
           "judgments", "citations", "composition")
EXEC_METRICS = {
    "sql_executions": "count", "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_s": "s", "busy_frac": "ratio", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "peak_exec_memory_bytes": "bytes", "failed_tasks": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.ingest_s": "s",
    "sources.files_scanned": "count",
    "sources.bytes_scanned": "bytes",
    "sources.manifest_new_over_scanned": "ratio",
    "sinks.rows_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    **{f"extraction.{k}_us_per_doc": "us/doc" for k in KERNELS},
    "extraction.udf_overhead_ratio": "ratio",
    "plans.construct_s": "s",
    "plans.py4j_round_trips": "count",
    "plans.catalyst_ms": "ms",
    **{f"exec.{k}": u for k, u in EXEC_METRICS.items()},
    **{f"pipeline.table_write_s.{t}": "s" for t in TABLES},
    "pipeline.recount_s": "s",
    "pipeline.manifest_s": "s",
    "pipeline.batch_check_s": "s",
    "pipeline.driver_s": "s",
    "pipeline.datasets_s": "s",
    **{f"pipeline.dataset_s.{d}": "s" for d in DATASETS},
    "trace.op_s": "s",
}

# the program's functions the traced run puts a span around
PLAN_FUNCTIONS = ("run_extraction_pipeline", "new_rows_only", "processed_union",
                  "judgment_dataset", "criticality_dataset", "pretraining_dataset",
                  "doc2doc_ir_dataset", "regeste_dataset", "law_area_dataset",
                  "coverage_report")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="start operations until this much time is measured (at least one)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=N_DOCS, help="N: documents in the landing zone")
    p.add_argument("--new-docs", type=int, default=NEW_DOCS, help="K: documents the append adds")
    return p.parse_args(argv)


def source_provenance() -> dict:
    """Commit and dirty flag when the checkout is a git work tree, plus a
    hash of the program's sources, which also identifies a plain copy."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, "swisscourtrulingcorpus_spark")):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    out = {"git_sha": None, "git_dirty": None, "source_sha256": h.hexdigest()}
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30)
        if sha.returncode == 0:
            status = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                    cwd=ROOT, capture_output=True, text=True, timeout=30)
            out["git_sha"] = sha.stdout.strip()
            out["git_dirty"] = bool(status.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        pass
    return out


def median(xs):
    return statistics.median(xs) if xs else None


def export_hash(path: str) -> str:
    """``value_hash`` of a split-partitioned json export; the partition
    directory (``split=...``) is kept as a column."""
    from swisscourtrulingcorpus_spark.plans.parity import value_hash

    frames = [pd.DataFrame()]
    for dirpath, _, filenames in os.walk(path):
        for f in sorted(filenames):
            if f.endswith((".json", ".json.gz")):
                df = pd.read_json(os.path.join(dirpath, f), lines=True)
                df["__partition"] = os.path.relpath(dirpath, path)
                frames.append(df)
    return value_hash(pd.concat(frames, ignore_index=True))


def spark_confs(run_dir: str) -> dict:
    """Confs the benchmark adds to the session's own: quiet, and every
    file the JVM writes inside the run directory."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }


def build_pristine(target: str, n_docs: int, run_dir: str) -> None:
    """Build the base corpus of incremental_append into ``target``.  Runs
    in its own process, so the measuring process starts with a cold JVM
    whether or not this checkout has built the corpus before."""
    from bench_inputs import write_landing_zone
    from swisscourtrulingcorpus_spark.pipeline import build_corpus_from_landing_zone
    from swisscourtrulingcorpus_spark.session import get_spark
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import build_raw_corpus

    lz = os.path.join(run_dir, "base_landing_zone")
    write_landing_zone(lz, build_raw_corpus(n_docs, BASE_SEED))
    spark = get_spark(app_name="perfbench-pristine", extra_conf=spark_confs(run_dir))
    try:
        build_corpus_from_landing_zone(spark, lz, target + ".tmp", incremental=False)
    finally:
        stop_spark(spark)
    os.rename(target + ".tmp", target)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


@contextlib.contextmanager
def wrapped(tracer, targets):
    """Record a span around each call of ``module.attr`` while entered."""
    saved = []
    for mod, attr, name in targets:
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))

        def make(orig=orig, name=name):
            @functools.wraps(orig)
            def call(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return call

        setattr(mod, attr, make())
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


class Bench:
    """One invocation: inputs, session set-up, measured operations, checks."""

    def __init__(self, args, cores: int, run_dir: str):
        self.args = args
        self.cores = cores
        self.run_dir = run_dir
        self.append = args.workload == "incremental_append"
        self.n, self.k = args.docs, (args.new_docs if self.append else 0)
        self.lz = os.path.join(run_dir, "landing_zone")
        self.spark = None
        self.tracer = None
        self.ledger: dict = {}
        self.layer_ops: list[dict] = []
        self.trace_detail: list[dict] = []
        self.report: dict = {"samples": {}, "checks": [], "phase_s": {}}

    # -- set-up ---------------------------------------------------------
    def set_up(self) -> None:
        """Session start plus a fixed warmup job, SETUP_REPEATS times in
        this process; the first start launches the JVM, later ones start a
        new SparkContext in it."""
        from swisscourtrulingcorpus_spark.session import get_spark

        starts, warmups = [], []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=spark_confs(self.run_dir))
            spark.sparkContext.setLogLevel("ERROR")
            # attach the SQL status listener before any query runs
            spark._jsparkSession.sharedState().statusStore()
            t1 = time.perf_counter()
            (spark.range(0, WARMUP_ROWS, 1, self.cores)
             .selectExpr("id % 97 AS k").groupBy("k").count().collect())
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warmups.append(t2 - t1)
            if i < SETUP_REPEATS - 1:
                spark.stop()
        self.spark = spark
        self.report["samples"]["session_start_s"] = starts
        self.report["samples"]["session_warmup_s"] = warmups
        self.report["samples"]["setup_s"] = [a + b for a, b in zip(starts, warmups)]

    def sentinel(self) -> float:
        """Median time of a fixed job that keeps every core busy: one loop
        of numpy matrix products per core, in threads (numpy releases the
        GIL).  Taken before and after the operations, it shows whether the
        run shared the machine; unlike a Spark job it does not speed up as
        the JVM warms, and unlike a one-thread loop it slows down when
        other work takes some of the cores."""
        a = np.random.default_rng(0).random((SENTINEL_MATRIX, SENTINEL_MATRIX))

        def work(_):
            b = a
            for _ in range(SENTINEL_LOOPS):
                b = a @ b
                b /= np.abs(b).max()
            return b

        times = []
        with ThreadPoolExecutor(self.cores) as pool:
            for _ in range(SENTINEL_REPEATS):
                t0 = time.perf_counter()
                list(pool.map(work, range(self.cores)))
                times.append(time.perf_counter() - t0)
        return median(times)

    # -- operations -----------------------------------------------------
    def prepare(self) -> None:
        from bench_inputs import append_rows, write_landing_zone
        from swisscourtrulingcorpus_spark.sources.domain_fixtures import build_raw_corpus

        if self.append:
            self.rows = append_rows(self.n, BASE_SEED, self.k, self.args.seed)
            self.pristine = os.path.join(WORK, f"pristine-n{self.n}")
            if not os.path.isdir(self.pristine):
                shutil.rmtree(self.pristine + ".tmp", ignore_errors=True)
                t0 = time.perf_counter()
                code = (f"import sys; sys.path[:0] = {[ROOT, HERE]!r}; import run; "
                        f"run.build_pristine({self.pristine!r}, {self.n}, {self.run_dir!r})")
                subprocess.run([sys.executable, "-c", code], check=True, timeout=900)
                self.report["samples"]["pristine_build_s"] = [time.perf_counter() - t0]
        else:
            self.rows = build_raw_corpus(self.n, self.args.seed)
        write_landing_zone(self.lz, self.rows)

    def operation(self, i: int) -> dict:
        from swisscourtrulingcorpus_spark import pipeline

        out = os.path.join(self.run_dir, f"op{i}")
        lz = self.lz
        if self.append:
            shutil.copytree(self.pristine, out)
        # fresh paths and an empty cache: no operation reuses another's data
        self.spark.catalog.clearCache()
        span = self.tracer.span("op") if self.tracer else contextlib.nullcontext()
        with span as root:
            t0 = time.perf_counter()
            counts = pipeline.build_corpus_from_landing_zone(
                self.spark, lz, out, incremental=self.append)
            op_s = time.perf_counter() - t0
        return {"op_s": op_s, "docs": self.k if self.append else self.n, "lz": lz,
                "out": out, "counts": counts, "root": root["id"] if root else None}

    # -- checks ---------------------------------------------------------
    def signature(self, res: dict) -> dict:
        """What must repeat across operations and runs with the same inputs:
        the table counts and, where the run built them, the value hash of
        every dataset export.  Read with pandas, so no Spark job is added."""
        from swisscourtrulingcorpus_spark.plans.parity import value_hash

        sig = {"tables": res["counts"]}
        if "datasets" in res:
            sig["datasets"] = {name: export_hash(os.path.join(res["out"], "datasets", name))
                               for name in sorted(res["datasets"])}
            sig["datasets"]["coverage"] = value_hash(
                pd.read_parquet(os.path.join(res["out"], "reports", "coverage")))
        return sig

    def check(self, res: dict) -> list[str]:
        expected = self.n + self.k
        problems = []
        if res["counts"].get("decision") != expected:
            problems.append(f"decision rows {res['counts'].get('decision')} != {expected}")
        names = pd.read_parquet(os.path.join(res["out"], "decision"), columns=["file_name"])
        if names["file_name"].nunique() != len(names):
            problems.append(f"duplicate decision file_name: {len(names) - names['file_name'].nunique()}")
        if "datasets" in res and not all(res["datasets"].values()):
            problems.append(f"empty dataset export: {res['datasets']}")
        return problems

    def check_all(self, ops: list[dict]) -> int:
        """Checks every operation against the run's first one and against
        earlier runs with the same inputs (``.perfbench/ledger.json``);
        returns how many operations failed."""
        ledger_path = os.path.join(WORK, "ledger.json")
        if os.path.exists(ledger_path):
            with open(ledger_path) as fh:
                self.ledger = json.load(fh)
        outputs = self.ledger.setdefault("outputs", {})
        key = f"{self.args.workload}|seed={self.args.seed}|n={self.n}|k={self.k}"
        failed, first = 0, None
        for i, res in enumerate(ops):
            problems = self.check(res)
            sig = self.signature(res)
            first = first or sig
            if sig != first:
                problems.append("outputs differ from this run's first operation")
            earlier = outputs.get(key, {})
            for part in sig:
                if part in earlier and earlier[part] != sig[part]:
                    problems.append(f"{part} differ from an earlier run with the same inputs")
            self.report["checks"].append({"op": i, "problems": problems, "signature": sig})
            failed += bool(problems)
        if first is not None and not failed:
            outputs[key] = {**outputs.get(key, {}), **first}
            if not self.args.trace:
                self.ledger.setdefault("op_s", {}).setdefault(self.args.workload, []).append(
                    median([r["op_s"] for r in ops]))
            with open(ledger_path, "w") as fh:
                json.dump(self.ledger, fh, indent=1, sort_keys=True)
        return failed

    # -- the run --------------------------------------------------------
    def execute(self) -> dict:
        phase, samples = self.report["phase_s"], self.report["samples"]
        t = time.perf_counter()
        self.prepare()
        phase["inputs"], t = time.perf_counter() - t, time.perf_counter()
        self.set_up()
        self.report["sentinel_before_s"] = self.sentinel()
        phase["setup"], t = time.perf_counter() - t, time.perf_counter()
        ops, errors = [], []
        t_start = time.perf_counter()
        while not ops or time.perf_counter() - t_start < self.args.seconds:
            try:
                ops.append(self.traced_operation(len(ops)) if self.args.trace
                           else self.operation(len(ops)))
            except Exception as e:  # an operation that raises counts as failed
                errors.append(repr(e))
                break
        self.report["sentinel_after_s"] = self.sentinel()
        phase["operations"], t = time.perf_counter() - t, time.perf_counter()
        failed = len(errors) + self.check_all(ops)
        phase["checks"] = time.perf_counter() - t

        ratio = self.report["sentinel_after_s"] / self.report["sentinel_before_s"]
        self.report["contended"] = not (1 / SENTINEL_TOLERANCE <= ratio <= SENTINEL_TOLERANCE)
        self.report["errors"] = errors
        samples["op_s"] = [r["op_s"] for r in ops]
        self.report["sample_counts"] = {k: len(v) for k, v in samples.items()}
        op_s = median(samples["op_s"])
        self.report["failed_frac"] = failed / max(1, len(ops) + len(errors))
        if not ops:
            metrics = {}
        elif self.args.trace:
            per_op = [r["layer_metrics"] for r in self.layer_ops]
            metrics = {k: median([m[k] for m in per_op]) for k in PER_LAYER}
        else:
            metrics = {"setup_s": median(samples["setup_s"]), "op_s": op_s,
                       "docs_per_s": ops[0]["docs"] / op_s}
        units = PER_LAYER if self.args.trace else END_TO_END
        self.report["jvm_tmpdir"] = self.spark._jvm.java.lang.System.getProperty("java.io.tmpdir")
        self.report["spark_confs"] = dict(sorted(
            (k, v) for k, v in self.spark.sparkContext.getConf().getAll()
            if not k.startswith("spark.app") and k not in ("spark.driver.host", "spark.driver.port")))
        return {
            "correct": failed == 0 and bool(ops),
            "attempted": len(ops) + len(errors),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    # -- traced run -----------------------------------------------------
    def traced_operation(self, i: int) -> dict:
        from bench_trace import Py4jCounter, Tracer, execution_count, jvm_peak_rss_mb, phase_listener
        from swisscourtrulingcorpus_spark import pipeline
        from swisscourtrulingcorpus_spark.sources import ingest

        if self.tracer is None:
            self.tracer = Tracer()
            t = time.time()
            for start, warm in zip(self.report["samples"]["session_start_s"],
                                   self.report["samples"]["session_warmup_s"]):
                self.tracer.add("session.start", t, t + start, None)
                self.tracer.add("session.warmup", t + start, t + start + warm, None)
        targets = [(pipeline, f, f"plans.{f}") for f in PLAN_FUNCTIONS]
        targets += [(ingest, "ingest_landing_zone", "plans.ingest_landing_zone"),
                    (pipeline, "write_partitioned", "sinks.write_partitioned"),
                    (pipeline, "build_corpus_from_landing_zone",
                     "pipeline.build_corpus_from_landing_zone"),
                    (pipeline, "build_datasets", "pipeline.build_datasets")]
        with wrapped(self.tracer, targets):
            first = execution_count(self.spark)
            with phase_listener(self.spark) as listener, Py4jCounter() as rt:
                res = self.operation(i)
            h = self.attach_executions(first, res["out"], res["root"])
            m = self.op_layer_metrics(res, h, rt.n, listener.rows)
            # the dataset creators over the operation's output: the second
            # half of a daily run, measured here and not in op_s
            with self.tracer.span("datasets") as ds_root:
                first = execution_count(self.spark)
                res["datasets"] = pipeline.build_datasets(self.spark, res["out"])
            ds = self.attach_executions(first, res["out"], ds_root["id"])
        m["pipeline.datasets_s"] = ds_root["end"] - ds_root["start"]
        step_s = self.step_seconds(ds["executions"])
        for d in DATASETS:
            m[f"pipeline.dataset_s.{d}"] = step_s.get(f"dataset.{d}", 0.0)
        m["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        res["layer_metrics"] = m
        self.layer_ops.append(res)
        return res

    def attach_executions(self, first: int, out: str, root: int) -> dict:
        """Harvest the SQL executions since ``first`` and add each as an
        ``exec.<step>`` span under the innermost span that was open."""
        from bench_trace import harvest

        h = harvest(self.spark, first, out, TABLES)
        for e in h["executions"]:
            parent = self.tracer.innermost((e["start"] + e["end"]) / 2, root)
            self.tracer.add(f"exec.{e['step']}", e["start"], e["end"], parent, execution=e["id"])
        self.trace_detail.append({"root": root, **h})
        return h

    @staticmethod
    def step_seconds(executions) -> dict[str, float]:
        out: dict[str, float] = {}
        for e in executions:
            out[e["step"]] = out.get(e["step"], 0.0) + (e["end"] - e["start"])
        return out

    def op_layer_metrics(self, res, h, round_trips, phase_rows) -> dict:
        from bench_inputs import payloads
        from bench_trace import time_kernels
        from swisscourtrulingcorpus_spark.sources.ingest import ingest_landing_zone

        root = self.tracer.spans[res["root"]]
        op_s = root["end"] - root["start"]
        execs, stages = h["executions"], h["stages"].values()
        step_s = self.step_seconds(execs)
        selfs = self.tracer.self_time_by_name(res["root"])
        samples = self.report["samples"]
        task_run_s = sum(s["run_ms"] for s in stages) / 1000.0
        m = {
            "session.start_s": median(samples["session_start_s"]),
            "session.warmup_s": median(samples["session_warmup_s"]),
            "plans.construct_s": sum(v for k, v in selfs.items() if k.startswith("plans.")),
            "plans.py4j_round_trips": round_trips,
            "plans.catalyst_ms": sum(sum(r["phases_ms"].values()) for r in phase_rows),
            "pipeline.driver_s": sum(v for k, v in selfs.items()
                                     if k.startswith("pipeline.") or k == "op"),
            "pipeline.recount_s": step_s.get("recount", 0.0),
            "pipeline.manifest_s": step_s.get("manifest", 0.0),
            "pipeline.batch_check_s": step_s.get("batch_check", 0.0),
            "trace.op_s": op_s,
            "exec.sql_executions": len(execs),
            "exec.jobs": h["jobs"],
            "exec.stages": len(h["stages"]),
            "exec.tasks": sum(s["tasks"] for s in stages),
            "exec.task_run_s": task_run_s,
            "exec.busy_frac": task_run_s / (op_s * self.cores),
            "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "exec.peak_exec_memory_bytes": max((s["peak_exec_memory_bytes"] for s in stages), default=0),
            "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
            "sinks.rows_written": sum(s["output_records"] for s in stages),
            "sinks.bytes_written": sum(s["output_bytes"] for s in stages),
            "sinks.files_written": sum(e["metrics"].get("number of written files", 0) for e in execs),
            "sources.files_scanned": sum(e["metrics"].get("number of files read", 0) for e in execs),
            "sources.bytes_scanned": sum(s["input_bytes"] for s in stages),
            "sources.manifest_new_over_scanned": res["docs"] / (self.n + self.k),
        }
        for t in TABLES:
            m[f"pipeline.table_write_s.{t}"] = step_s.get(f"table_write.{t}", 0.0)
        self.report.setdefault("accounting", []).append(
            {"op_s": op_s, "self_time_s": dict(sorted(selfs.items(), key=lambda kv: -kv[1]))})
        # layers measured on their own after the operation: the ingest scan
        # to a noop sink, and each extraction kernel outside Spark on the
        # documents the operation extracted
        with self.tracer.span("sources.ingest") as s:
            ingest_landing_zone(self.spark, res["lz"]).write.format("noop").mode("overwrite").save()
        m["sources.ingest_s"] = s["end"] - s["start"]
        rows = self.rows[-res["docs"]:]
        names = [os.path.splitext(r["file_name"])[0] for r in rows]
        with self.tracer.span("extraction.kernels"):
            kernels = time_kernels(rows, payloads(res["lz"], names))
        for k, us in kernels.items():
            m[f"extraction.{k}_us_per_doc"] = us
        kernel_s = sum(kernels.values()) * res["docs"] / 1e6 / self.cores
        m["extraction.udf_overhead_ratio"] = (
            sum(v for k, v in step_s.items() if k.startswith("table_write.")) / kernel_s)
        return m

    def write_trace(self) -> str:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces",
                            f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"spans": self.tracer.spans,
                       "self_time_s": self.tracer.self_times(),
                       "operations": self.trace_detail}, fh)
        return path

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import swisscourtrulingcorpus_spark as program
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(program.__file__))) != ROOT:
        print(f"perfbench: the program was imported from {program.__file__}, "
              f"not from this checkout", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    cores = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc)
    env_before = {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS")}
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the session's sizing rule for a local run: 2 x cores shuffle partitions
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * cores))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # spark-submit's launcher JVM, which the session confs do not reach
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    bench = Bench(args, cores, run_dir)
    try:
        result = bench.execute()
        if args.trace:
            bench.report["trace_file"] = os.path.relpath(bench.write_trace(), ROOT)
            untraced = bench.ledger.get("op_s", {}).get(args.workload)
            traced = result["metrics"].get("trace.op_s", {}).get("value")
            bench.report["tracing_overhead_frac"] = (
                traced / median(untraced) - 1 if untraced and traced else None)
    finally:
        t = time.perf_counter()
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        bench.report["phase_s"]["close"] = time.perf_counter() - t

    bench.report["provenance"] = {
        **source_provenance(),
        "nproc": nproc,
        "cores": cores,
        "env": env_before,
        "shuffle_partitions": os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "n_docs": bench.n,
        "new_docs": bench.k,
        "python": sys.version.split()[0],
    }
    print(json.dumps({"report": bench.report}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
