"""Per-layer tracing from outside the program.

A :class:`Tracer` records spans around calls into the program's public
entry points (the upsert table's merge, spool and vacuum methods),
counts the calls the table makes through the ``fs`` metadata seam, and
reads Spark's own event log after the run. Spans are kept in memory.
Installed only for ``--trace 1`` runs, so end-to-end figures come from
runs without it.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

LOOKUP_GROUP = "perfbench-lookup"
FAMILIES = ("operators", "functions", "cdc", "streaming", "llmops")
#: SQL task metrics (ms) of Python UDF / Arrow evaluation nodes
PYTHON_TIMES = {
    "time to run Python workers": "eval",
    "time to initialize Python workers": "init",
    "time to start Python workers": "init",
}


@dataclass
class Span:
    name: str
    t0: float  # epoch seconds
    t1: float
    batch_id: int | None = None
    thread: int = 0


def pct(values, q: float) -> float:
    """The q-quantile of ``values`` (0 when there are none)."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    fs_calls: dict[str, list[float]] = field(default_factory=dict)
    buckets_rewritten: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list = field(default_factory=list)

    def _record(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def _wrap_span(self, cls, meth: str, name: str) -> None:
        orig = getattr(cls, meth)
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            t0 = time.time()
            try:
                return orig(obj, *args, **kwargs)
            finally:
                bid = args[1] if meth in ("merge_batch", "spool_batch") else (
                    args[0] if meth == "flush_spool" and args else None)
                tracer._record(Span(name, t0, time.time(), bid,
                                    threading.get_ident()))
                if meth == "merge_batch":
                    tracer._count_buckets(obj.table_dir, args[1])

        setattr(cls, meth, wrapper)
        self._patched.append((cls, meth, orig))

    def _count_buckets(self, table_dir: str, batch_id: int) -> None:
        out = os.path.join(table_dir, f"v{batch_id:020d}")
        if os.path.isdir(out):
            n = sum(d.startswith("pb=") for d in os.listdir(out))
            with self._lock:
                self.buckets_rewritten += n

    def _wrap_fs(self, cls, meth: str) -> None:
        orig = getattr(cls, meth)
        calls = self.fs_calls.setdefault(meth, [])
        lock = self._lock

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(obj, *args, **kwargs)
            finally:
                with lock:
                    calls.append(time.perf_counter() - t0)

        setattr(cls, meth, wrapper)
        self._patched.append((cls, meth, orig))

    def _wrap_caller(self, cls, meth: str, name: str, caller: str) -> None:
        """Span a pyspark method, but only when ``caller`` invoked it."""
        orig = getattr(cls, meth)
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            if not sys._getframe(1).f_code.co_filename.endswith(caller):
                return orig(obj, *args, **kwargs)
            t0 = time.time()
            try:
                return orig(obj, *args, **kwargs)
            finally:
                tracer._record(Span(name, t0, time.time(),
                                    thread=threading.get_ident()))

        setattr(cls, meth, wrapper)
        self._patched.append((cls, meth, orig))

    def install(self, spark) -> None:
        df = spark.range(1)
        # inside merge_batch: the touched-bucket probe is its one collect,
        # and the partitioned parquet write ends the read-back + compact job
        self._wrap_caller(type(df), "collect", "merge.probe", "materialize.py")
        self._wrap_caller(type(df.write), "parquet", "merge.write", "materialize.py")
        from olr_cdc_oracle_with_dbz_spark.fs import LocalFS
        from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
            ParquetUpsertTable as T,
        )

        for meth, name in (("merge_batch", "merge"), ("spool_batch", "spool.stage"),
                           ("flush_spool", "spool.flush"), ("vacuum", "vacuum")):
            self._wrap_span(T, meth, name)
        for meth in ("exists", "is_dir", "mkdirs", "read_text", "write_text_atomic",
                     "create_exclusive", "list_names", "delete", "mtime",
                     "parquet_rows"):
            self._wrap_fs(LocalFS, meth)

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._patched):
            setattr(cls, meth, orig)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from a plain-JSON Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    python: list[tuple[int, str, float]] = []  # (stage, metric, ms)
    for fn in os.listdir(log_dir):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    names = [s["Stage Name"] for s in e["Stage Infos"]]
                    jobs[e["Job ID"]] = {
                        "t0": e["Submission Time"] / 1000.0, "t1": None,
                        "group": props.get("spark.jobGroup.id"),
                        "site": names[-1] if names else "",
                        "stages": list(e["Stage IDs"]),
                    }
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    tasks.append((e["Stage ID"], e["Task Metrics"]))
                    for a in e["Task Info"].get("Accumulables", []):
                        if a.get("Name") in PYTHON_TIMES:
                            python.append((e["Stage ID"], PYTHON_TIMES[a["Name"]],
                                           float(a.get("Update") or 0)))
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks,
            "python": python}


def spark_metrics(log: dict, t0: float, t1: float, merges: list[Span]) -> dict:
    """Scheduler and executor totals for jobs submitted in ``[t0, t1]``."""
    jobs = {j: v for j, v in log["jobs"].items() if t0 <= v["t0"] <= t1}
    stages = {s for j in jobs.values() for s in j["stages"]}
    run_ms = cpu_ns = gc_ms = inp = shw = out = n_tasks = 0
    for stage, m in log["tasks"]:
        if log["stage_job"].get(stage) not in jobs:
            continue
        n_tasks += 1
        run_ms += m["Executor Run Time"]
        cpu_ns += m["Executor CPU Time"]
        gc_ms += m["JVM GC Time"]
        inp += m["Input Metrics"]["Bytes Read"]
        shw += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        out += m["Output Metrics"]["Bytes Written"]
    py: dict[str, float] = {}
    for stage, metric, ms in log["python"]:
        if log["stage_job"].get(stage) in jobs:
            py[metric] = py.get(metric, 0.0) + ms
    in_merges = sum(1 for j in jobs.values() if j["group"] != LOOKUP_GROUP
                    and any(s.t0 <= j["t0"] <= s.t1 for s in merges))
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (len(stages), "count"),
        "spark.tasks": (n_tasks, "count"),
        "spark.jobs_per_merge": (in_merges / len(merges) if merges else 0.0, "count"),
        "spark.executor_run_s": (run_ms / 1000.0, "s"),
        "spark.executor_cpu_s": (cpu_ns / 1e9, "s"),
        "spark.gc_s": (gc_ms / 1000.0, "s"),
        "spark.input_bytes": (inp, "bytes"),
        "spark.shuffle_write_bytes": (shw, "bytes"),
        "spark.output_bytes": (out, "bytes"),
        "python.eval_s": (py.get("eval", 0.0) / 1000.0, "s"),
        "python.init_s": (py.get("init", 0.0) / 1000.0, "s"),
    }


def merge_phases(tracer: Tracer, log: dict | None, merges: list[Span]) -> dict:
    """Split each merge into its touched-bucket probe (the collect) and the
    read-back + compact + write that follows it, up to the end of the
    parquet write; bytes written by the jobs of merges."""
    probe, write = [], []
    probes, writes = tracer.named("merge.probe"), tracer.named("merge.write")
    for s in merges:
        p = [x for x in probes if s.t0 <= x.t0 and x.t1 <= s.t1 and x.thread == s.thread]
        w = [x for x in writes if s.t0 <= x.t0 and x.t1 <= s.t1 and x.thread == s.thread]
        if p and w:
            probe.append((p[0].t1 - p[0].t0) * 1000)
            write.append((w[-1].t1 - p[0].t1) * 1000)
    written = 0
    if log:
        out: dict[int, int] = {}
        for stage, m in log["tasks"]:
            out[stage] = out.get(stage, 0) + m["Output Metrics"]["Bytes Written"]
        for j in log["jobs"].values():
            if j["group"] != LOOKUP_GROUP and any(s.t0 <= j["t0"] <= s.t1 for s in merges):
                written += sum(out.get(st, 0) for st in j["stages"])
    return {"probe": probe, "write": write, "bytes": written}
