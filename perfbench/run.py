"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 16 --trace 0

Builds nothing: the program is the Python package beside this directory,
imported from source. Every file a run writes (inputs, tables,
checkpoints, Spark's local and warehouse dirs, the event log) lives under
``.perfbench_work/`` in the checkout and is removed when the run ends.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
tracer and prints the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "olr_cdc_oracle_with_dbz_spark"
HARD_LIMIT_S = 170  # a run that is still going here is stopped
# stream phases end by this many seconds after start, which leaves time
# for the checks, the JSON line and stopping Spark before HARD_LIMIT_S
STREAM_LIMIT_S = 140


def _die(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) in MB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, from each one's ppid."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while we looked
        # the command name, in parentheses, may hold spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _kill(pids: list[int]) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass  # ended already


def _stop_processes(spark) -> None:
    """Stop Spark, end its JVM and wait until every process this run
    started (the JVM, Spark's Python workers) has ended. The JVM exits when
    its stdin closes; one that does not within its grace time, and any
    worker left after it, is killed."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # the JVM is ended below all the same
            print(f"perfbench: stopping Spark: {e!r}", file=sys.stderr, flush=True)
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass  # the connection may be gone already
        SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        try:
            jvm.stdin.close()
        except OSError:
            pass
        try:
            jvm.wait(timeout=20)
        except Exception:
            jvm.kill()
            jvm.wait()
    for grace in (10.0, 5.0):
        end = time.time() + grace
        while time.time() < end and any(_alive(p) for p in procs):
            time.sleep(0.05)
        _kill([p for p in procs if _alive(p)])
    # reap the direct children (the JVM, here) that are left as zombies
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def _remove(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(work.parent)
    except OSError:
        pass  # another run's work dir is still there


def _session(work: Path, trace: bool):
    from olr_cdc_oracle_with_dbz_spark.session import get_spark

    # the heap starts at its full size: a JVM that grows its heap as it
    # goes spends different GC and resident memory from run to run
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work / 'derby'}"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        os.makedirs(work / "eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_to_end(res, setup_s: float, rss_mb: float) -> dict:
    from tracing import pct

    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "throughput_per_s": (statistics.median(res.throughput), "1/s"),
        "latency_p50_ms": (pct(res.latency_ms, 0.5), "ms"),
    }


def per_layer(res, tracer, setup: dict, log: dict) -> dict:
    import tracing
    from tracing import FAMILIES, pct

    m: dict[str, tuple] = {}
    # pipeline: the live phase's micro-batches, from StreamingQueryProgress;
    # the sink's own spans per batch show what addBatch spent elsewhere
    batches = [p for p in res.live_progress if p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in batches]
    sink: dict[int, float] = {}
    for s in tracer.spans:
        if s.batch_id is not None and s.name in ("merge", "spool.stage", "spool.flush"):
            if s.name == "merge" and any(f.name == "spool.flush" and f.t0 <= s.t0
                                         and s.t1 <= f.t1 for f in tracer.spans):
                continue  # nested in a flush already counted
            sink[s.batch_id] = sink.get(s.batch_id, 0.0) + (s.t1 - s.t0) * 1000
    m["pipeline.batches"] = (len(batches), "count")
    m["pipeline.batch_ms.p50"] = (pct([d["triggerExecution"] for d in dur], 0.5), "ms")
    m["pipeline.trigger_overhead_ms.p50"] = (
        pct([d["triggerExecution"] - d.get("addBatch", 0) for d in dur], 0.5), "ms")
    m["pipeline.unattributed_ms.p50"] = (pct(
        [p["durationMs"].get("addBatch", 0) - sink.get(p["batchId"], 0.0)
         for p in batches], 0.5), "ms")
    live_events = sum(res.extra.get("live_events", []))
    m["pipeline.source_reads_per_event"] = (
        sum(p["numInputRows"] for p in batches) / live_events if live_events else 0.0,
        "count")
    catchup = [p["durationMs"]["triggerExecution"] for p in res.catchup_progress
               if p["numInputRows"] > 0]
    m["catchup.batches"] = (len(catchup), "count")
    m["catchup.batch_ms.p50"] = (pct(catchup, 0.5), "ms")

    merges = tracer.named("merge")
    ms = [(s.t1 - s.t0) * 1000 for s in merges]
    phases = tracing.merge_phases(tracer, log, merges)
    m["merge.calls"] = (len(merges), "count")
    m["merge.s"] = (sum(ms) / 1000, "s")
    m["merge.ms.p50"] = (pct(ms, 0.5), "ms")
    m["merge.probe_ms.p50"] = (pct(phases["probe"], 0.5), "ms")
    m["merge.write_ms.p50"] = (pct(phases["write"], 0.5), "ms")
    m["merge.buckets_rewritten"] = (tracer.buckets_rewritten, "count")
    m["merge.bytes_written"] = (phases["bytes"], "bytes")
    m["table.bytes"] = (res.table_bytes, "bytes")
    for name, key in (("stage", "spool.stage"), ("flush", "spool.flush")):
        spans = tracer.named(key)
        m[f"spool.{name}_calls"] = (len(spans), "count")
        m[f"spool.{name}_s"] = (sum(s.t1 - s.t0 for s in spans), "s")

    fresh = res.extra.get("freshness_ms", [])
    m["live.freshness_ms.p50"] = (pct(fresh, 0.5), "ms")
    lookups = res.extra.get("lookup_ms", [])
    lookup_jobs = sum(1 for j in (log or {}).get("jobs", {}).values()
                      if j["group"] == tracing.LOOKUP_GROUP)
    m["lookup.ms.p50"] = (pct(lookups, 0.5), "ms")
    m["lookup.plan_ms.p50"] = (pct(res.extra.get("lookup_plan_ms", []), 0.5), "ms")
    m["lookup.fetch_ms.p50"] = (pct(res.extra.get("lookup_fetch_ms", []), 0.5), "ms")
    m["lookup.jobs"] = (lookup_jobs / len(lookups) if lookups else 0.0, "count")

    calls = tracer.fs_calls
    n_fs = sum(len(v) for v in calls.values())
    vac = tracer.named("vacuum")
    m["fs.calls"] = (n_fs, "count")
    m["fs.list_calls"] = (len(calls.get("list_names", [])), "count")
    m["fs.s"] = (sum(sum(v) for v in calls.values()), "s")
    m["fs.calls_per_commit"] = (
        n_fs / len(calls.get("create_exclusive", [])) if calls.get("create_exclusive") else 0.0,
        "count")
    m["vacuum.calls"] = (len(vac), "count")
    m["vacuum.s"] = (sum(s.t1 - s.t0 for s in vac), "s")

    construct = res.extra.get("construct", [])
    m["query.construct_s"] = (sum(construct), "s")
    m["query.construct_jobs"] = (sum(
        1 for j in (log or {}).get("jobs", {}).values()
        if any(a <= j["t0"] <= b for a, b in res.construct_windows)), "count")
    m["query.execute_s"] = (sum(res.extra.get("execute", [])), "s")
    for fam in FAMILIES:
        m[f"query.{fam}.s"] = (sum(res.extra.get(f"family.{fam}", [])), "s")

    if log:
        m.update(tracing.spark_metrics(log, *res.window, merges))
    for k in ("session_s", "generate_s", "seed_s", "warmup_s"):
        m[f"setup.{k}"] = (setup.get(k, 0.0), "s")
    # the end-to-end figures as this traced run saw them: their distance
    # from an untraced run of the same seed is the tracing overhead
    for k, (v, u) in end_to_end(res, sum(setup.values()), 0.0).items():
        if k not in ("setup_s", "peak_rss_mb"):
            m[f"traced.{k}"] = (v, u)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        _die(f"the program ({PACKAGE}/) is not beside {HERE.name}/", 2)
    sys.path[:0] = [str(ROOT), str(HERE)]
    import selftest
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; "
             f"known: {sorted(workloads.WORKLOADS)}", 2)
    bad = selftest.run()
    if bad:
        _die("checker self-test failed: " + "; ".join(bad), 3)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(work / d)
    # Python workers import the program from source, from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    # two task slots: on the 4-CPU host the reference figures come from,
    # catch-up drained as fast with 2 slots as with 4, and spread less
    # from run to run (see README)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.chdir(work)
    deadline = time.time() + STREAM_LIMIT_S

    def expire() -> None:
        print(f"perfbench: still running after {HARD_LIMIT_S} s", file=sys.stderr,
              flush=True)
        _kill(_descendants(os.getpid()))
        _stop_processes(None)
        _remove(work)
        os._exit(4)

    def terminated(signum, frame) -> None:
        raise SystemExit(128 + signum)  # so that the cleanup below runs

    signal.signal(signal.SIGTERM, terminated)
    watchdog = threading.Timer(HARD_LIMIT_S, expire)
    watchdog.daemon = True
    watchdog.start()

    spark = None
    try:
        t = time.perf_counter()
        spark = _session(work, bool(args.trace))
        session_s = time.perf_counter() - t
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer()
        if args.trace:
            tracer.install(spark)
        res = workloads.WORKLOADS[args.workload](
            spark, str(work), args.seed, args.seconds, deadline)
        rss_mb = _peak_rss_mb([os.getpid(), jvm_pid])
        _stop_processes(spark)
        spark = None
        tracer.uninstall()
        setup = {"session_s": session_s, **res.setup}
        if args.trace:
            import tracing

            log = tracing.read_event_log(str(work / "eventlog"))
            metrics = per_layer(res, tracer, setup, log)
        else:
            metrics = end_to_end(res, sum(setup.values()), rss_mb)
        for p in res.problems[:20]:
            print("CHECK FAILED:", p)
        print(json.dumps({
            "correct": not res.problems,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        _stop_processes(spark)
        os.chdir(ROOT)
        _remove(work)


if __name__ == "__main__":
    sys.exit(main())
