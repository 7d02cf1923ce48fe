"""The workloads, driven through the program's public entry points.

* ``cdc`` — a pipeline restarting after downtime. A table seeded from a
  snapshot first drains a backlog of change files through
  ``pipeline.run_pipeline`` with the spool on (catch-up), then follows an
  open-loop trickle of change files without it (live), with point lookups
  against the live table beside the writer.
* ``query_sweep`` — registered analytics queries over seeded tables.

Each returns its raw samples in a :class:`Result`; ``run.py`` turns them
into metrics. Checks run after the timed regions.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import cdcgen
import checks
from tracing import LOOKUP_GROUP

# catch-up: table size, backlog size and how the backlog is framed
KEYS = 20_000
BACKLOG = 120_000
BACKLOG_FILE_EVENTS = 2_000
BACKLOG_FILES_PER_TRIGGER = 5
SPOOL_EVENTS = 20_000
# live: its share of --seconds and the open-loop generator's rate
LIVE_SHARE = 0.4
LIVE_FILE_EVENTS = 500
LIVE_FILE_PERIOD_S = 0.25
# query_sweep: untimed passes before the timed ones
WARMUP_PASSES = 2

#: query_sweep: the oracle-backed queries of one pass, across all five
#: query families; approximate queries are left out (see README)
SWEEP_QUERIES = (
    "q13_inner_join", "q22_hash_agg_tpch_q1", "q31_ranking",
    "q47_scalar_subquery", "q41_datetime_funcs", "u1_python_udf",
    "q54_changelog_stats", "s2_tumbling_window", "l1_exact_dedup",
    "l3_cosine_topk",
)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    window: tuple[float, float] = (0.0, 0.0)  # measured region, epoch s
    throughput: list[float] = field(default_factory=list)  # per drain/pass
    latency_ms: list[float] = field(default_factory=list)
    catchup_progress: list[dict] = field(default_factory=list)
    live_progress: list[dict] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)
    table_bytes: int = 0
    construct_windows: list[tuple[float, float]] = field(default_factory=list)

    def add(self, name: str, value: float) -> None:
        self.extra.setdefault(name, []).append(value)


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger finished."""
    return _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def file_batches(ckpt: str) -> dict[str, int]:
    """Source file name → the micro-batch planned to read it, from the
    stream checkpoint's source log (including its compacted segments)."""
    out = {}
    src_log = os.path.join(ckpt, "sources", "0")
    for n in os.listdir(src_log) if os.path.isdir(src_log) else ():
        if n.isdigit() or n.endswith(".compact"):
            with open(os.path.join(src_log, n)) as f:
                for line in f.read().splitlines()[1:]:
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def committed_batch(table) -> int:
    """Highest micro-batch whose rows the table's head has published:
    commits are labelled ``v<batch id>`` and land in batch order."""
    v = table.current_version()
    return int(v[1:]) if v and v[1:].isdigit() else -1


def _table_rows(table) -> tuple[list[str], list[tuple]]:
    from pyspark.sql import functions as F

    df = table.read()
    if df is None:
        return list(checks.TABLE_COLUMNS), []
    rows = df.select(
        "id", "name", "description", F.col("price").cast("string"), "stock",
        F.unix_millis("created_date"), F.unix_millis("updated_date"), "_scn",
        "_ssn",
    ).collect()
    return df.columns, [tuple(r) for r in rows]


def _head_bytes(table) -> int:
    """Bytes of the data files the head version references."""
    head = table.read()
    if head is None:
        return 0
    return sum(os.path.getsize(p.replace("file://", "", 1))
               for p in head.inputFiles())


def _lookup_keys(gen: cdcgen.Generator, rng) -> list[int]:
    """The keys the lookups cycle through: the two hottest keys (Zipf
    head, changed in nearly every live micro-batch) twice each, a cold one
    (tail, live) and one deleted by the end of the history."""
    hot = [int(k) for k in gen.rank_key[:2]]
    tail = [int(k) for k in gen.rank_key[len(gen.rank_key) // 2:]
            if k in gen.latest and gen.latest[k].op != "d"]
    gone = [k for k, e in gen.latest.items() if e.op == "d"] or tail
    return hot + [int(rng.choice(tail))] + hot + [int(rng.choice(gone))]


def _left(deadline: float) -> float:
    """Seconds a stream phase may still wait before the run's deadline."""
    return max(1.0, deadline - time.time())


def cdc(spark, work: str, seed: int, seconds: float, deadline: float) -> Result:
    """``deadline`` (epoch s) bounds every stream phase together: a phase
    still running then is stopped and its unpublished events fail."""
    import numpy as np
    from pyspark.sql import functions as F

    from olr_cdc_oracle_with_dbz_spark.pipeline import run_pipeline

    res = Result()
    src = f"{work}/src"
    t = time.perf_counter()
    gen = cdcgen.Generator(seed, KEYS)
    snapshot = gen.snapshot()
    backlog_files = cdcgen.chunk(gen.changes(BACKLOG), BACKLOG_FILE_EVENTS)
    live_s = seconds * LIVE_SHARE
    live_files = [gen.changes(LIVE_FILE_EVENTS)
                  for _ in range(max(1, math.ceil(live_s / LIVE_FILE_PERIOD_S)))]
    keys = _lookup_keys(gen, np.random.default_rng(seed + 1))
    cdcgen.write_files(src, cdcgen.chunk(snapshot, BACKLOG_FILE_EVENTS), "snap",
                       cdcgen.CREATED_MS)
    backlog_names = cdcgen.write_files(f"{work}/backlog", backlog_files, "back",
                                       cdcgen.CREATED_MS + 1)
    os.makedirs(f"{work}/staging")
    files = {os.path.basename(n): evs for n, evs in zip(backlog_names, backlog_files)}
    res.setup["generate_s"] = time.perf_counter() - t

    catchup = {
        "source": {"path": src, "max_files_per_trigger": BACKLOG_FILES_PER_TRIGGER},
        "sink": {"table_dir": f"{work}/table", "pk": "id",
                 "min_batch_events": SPOOL_EVENTS},
        "checkpoint": f"{work}/ckpt",
    }
    # the seed and the live phase merge every micro-batch: no spool
    live = {**catchup, "source": {"path": src},
            "sink": {"table_dir": f"{work}/table", "pk": "id"}}
    t = time.perf_counter()
    q, table = run_pipeline(spark, live, trigger_once=True)
    if not q.awaitTermination(_left(deadline)) or committed_batch(table) < 0:
        q.stop()
        raise RuntimeError("seeding the table did not finish")
    res.setup["seed_s"] = time.perf_counter() - t
    res.setup["warmup_s"] = 0.0  # the seed's merge warms the merge path

    # catch-up: the backlog is waiting when the pipeline restarts
    for n in backlog_names:
        os.rename(n, f"{src}/{os.path.basename(n)}")
    m0 = t0 = time.time()
    q, table = run_pipeline(spark, catchup, trigger_once=True,
                            timeout_sec=_left(deadline))
    t1 = time.time()
    res.catchup_progress = [json.loads(p.json) for p in q.recentProgress]
    done, planned = committed_batch(table), file_batches(catchup["checkpoint"])
    caught_up = [e for f in files if planned.get(f, done + 1) <= done
                 for e in files[f]]
    res.throughput.append(len(caught_up) / (t1 - t0))
    # each backlog file becomes visible at the end of the first commit at or
    # after its batch; one in the last batch when run_pipeline returns,
    # since its spool tail may be flushed only then
    ends = {p["batchId"]: batch_end(p) for p in res.catchup_progress}
    last = max(ends, default=-1)
    commits = sorted(int(v[1:]) for v in table.versions() if v[1:].isdigit())
    for f in files:
        c = next((c for c in commits if c >= planned.get(f, done + 1)), None)
        if c is not None:
            at = ends[c] if c in ends and c != last else t1
            res.latency_ms.append((at - t0) * 1000)
    res.table_bytes = _head_bytes(table)

    # live: an open-loop generator and a lookup thread beside the stream.
    # The whole backlog was emitted before catch-up began, published or
    # not: a file catch-up left behind is read by the live query.
    history = checks.History()
    history.emit(snapshot, t0)
    history.emit([e for evs in backlog_files for e in evs], t0)
    committed = cdcgen.Model()
    committed.apply(snapshot)
    committed.apply(caught_up)
    floors = {k: e.scn for k, e in committed.latest.items()}
    q, table = run_pipeline(spark, live, trigger_once=False)
    emitted: dict[str, float] = {}  # file → emit time
    lookups: list[checks.Lookup] = []
    errors: list[str] = []
    generated = threading.Event()
    start = time.time() + 0.2

    def generate() -> None:
        for i, events in enumerate(live_files):
            time.sleep(max(0.0, start + i * LIVE_FILE_PERIOD_S - time.time()))
            name = f"live-{i:05d}.json"
            ts = time.time()
            cdcgen.write_file(f"{work}/staging/{name}", events, int(ts * 1000))
            history.emit(events, ts)  # before the rename: it may be read at once
            files[name] = events
            emitted[name] = ts
            os.rename(f"{work}/staging/{name}", f"{src}/{name}")
        generated.set()

    def lookup() -> None:
        # closed loop: each lookup is issued when the previous one returns,
        # for as long as the generator runs
        spark.sparkContext.setJobGroup(LOOKUP_GROUP, "point lookups")
        time.sleep(max(0.0, start + 0.5 - time.time()))
        j = 0
        while not generated.is_set():
            key = keys[j % len(keys)]
            j += 1
            res.attempted += 1
            try:
                a = time.time()
                df = table.read_keys([key])
                b = time.time()
                rows = [] if df is None else df.select(
                    "id", "name", "description", F.col("price").cast("string"),
                    "stock", F.unix_millis("created_date"),
                    F.unix_millis("updated_date"), "_scn").collect()
                c = time.time()
            except Exception as e:  # a failed lookup is counted, not fatal
                res.failed += 1
                errors.append(f"lookup of key {key}: {e!r}"[:300])
                continue
            res.add("lookup_ms", (c - a) * 1000)
            res.add("lookup_plan_ms", (b - a) * 1000)
            res.add("lookup_fetch_ms", (c - b) * 1000)
            if len(rows) > 1:
                errors.append(f"lookup of key {key} returned {len(rows)} rows")
            lookups.append(checks.Lookup(key, tuple(rows[0]) if rows else None, c))

    threads = [threading.Thread(target=generate), threading.Thread(target=lookup)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    # drain, bounded: until the table has published every emitted file
    while time.time() < deadline and q.isActive:
        planned = file_batches(live["checkpoint"])
        if all(f in planned for f in files) and \
                max(planned[f] for f in files) <= committed_batch(table):
            break
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    res.window = (m0, time.time())
    res.live_progress = [json.loads(p.json) for p in q.recentProgress]

    # freshness: from each live file's ts_ms to the end of its batch; the
    # restarted query's first batch also plans and compiles, so it is left
    # out. Over a window this short it varies too much from run to run to
    # bound (see README), so the traced run reports it.
    ends = {p["batchId"]: batch_end(p) for p in res.live_progress
            if p["numInputRows"] > 0}
    first = min(ends, default=None)
    planned = file_batches(live["checkpoint"])
    done = committed_batch(table)
    visible = [f for f in files if planned.get(f, done + 1) <= done]
    for f in visible:
        if f in emitted and planned[f] in ends and planned[f] != first:
            res.add("freshness_ms", (ends[planned[f]] - int(emitted[f] * 1000) / 1000) * 1000)
    res.add("live_events", sum(len(files[f]) for f in visible if f in emitted))
    n_events = sum(len(evs) for evs in files.values())
    res.attempted += n_events
    res.failed += n_events - sum(len(files[f]) for f in visible)

    res.problems += errors
    res.problems += checks.check_lookups(history, lookups, floors)
    model = cdcgen.Model()
    model.apply(snapshot)
    for f in visible:
        model.apply(files[f])
    cols, rows = _table_rows(table)
    res.problems += checks.check_table(cols, rows, model.rows())
    return res


def query_sweep(spark, work: str, seed: int, seconds: float,
                deadline: float) -> Result:
    import duckdb

    import sweepdata
    from olr_cdc_oracle_with_dbz_spark.catalog import TABLES
    from olr_cdc_oracle_with_dbz_spark.registry import load_all

    res = Result()
    data = f"{work}/data"
    t = time.perf_counter()
    sweepdata.generate(data, seed)
    res.setup["generate_s"] = time.perf_counter() - t
    res.setup["seed_s"] = 0.0
    specs = load_all()
    results: dict[str, list] = {}

    def sweep(timed: bool) -> None:
        p0 = time.perf_counter()
        for name in SWEEP_QUERIES:
            spec = specs[name]
            res.attempted += 1
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                df = spec.spark_fn(spark, data)
                t1 = time.perf_counter()
                w1 = time.time()
                pdf = df.toPandas()
            except Exception as e:  # a failed query is counted, not fatal
                res.failed += 1
                res.problems.append(f"{name}: {e!r}"[:300])
                continue
            t2 = time.perf_counter()
            results.setdefault(name, []).append(pdf)
            if not timed:
                continue
            family = spec.spark_fn.__module__.split(".")[1]
            res.add(f"query.{name}", (t2 - t0) * 1000)
            res.add("construct", t1 - t0)
            res.add("execute", t2 - t1)
            res.add(f"family.{family}", t2 - t0)
            res.construct_windows.append((w0, w1))
        if timed:
            passes.append(time.perf_counter() - p0)

    t = time.perf_counter()
    for _ in range(WARMUP_PASSES):  # JIT, Python workers, catalog cache
        sweep(timed=False)
    res.setup["warmup_s"] = time.perf_counter() - t
    passes: list[float] = []
    m0 = time.time()
    while not passes or time.time() < min(m0 + seconds, deadline):
        sweep(timed=True)
    res.window = (m0, time.time())
    # each query's median over the passes damps one-off stalls (a Python
    # worker starting, a GC); a pass of medians gives the throughput
    res.latency_ms = [statistics.median(res.extra[f"query.{n}"])
                      for n in SWEEP_QUERIES if f"query.{n}" in res.extra]
    res.throughput.append(len(res.latency_ms) / (sum(res.latency_ms) / 1000))

    # check every pass's result against the DuckDB oracle on the same files
    con = duckdb.connect()
    try:
        for tname in TABLES:
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM "
                        f"read_parquet('{data}/{tname}.parquet')")
        for name, frames in results.items():
            oracle = con.execute(specs[name].oracle).df()
            for pdf in frames:
                res.problems += checks.check_query(name, pdf, oracle)
    finally:
        con.close()
    return res


WORKLOADS = {"cdc": cdc, "query_sweep": query_sweep}
