"""Measurement plumbing shared by the three workloads.

Everything here observes the engine from outside: it times calls into the
package's public functions and reads Spark's own reporting (streaming
progress through a StreamingQueryListener, job/stage metrics from the
application status store for a job group the benchmark sets). It changes
nothing inside the package.
"""

from __future__ import annotations

import calendar
import hashlib
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

# Stream progress terms reported per micro-batch (durationMs keys).
DURATION_TERMS = ("triggerExecution", "addBatch", "queryPlanning",
                  "walCommit", "commitOffsets", "latestOffset", "getBatch")
# RocksDB custom metrics summed over a batch's state operators.
ROCKSDB_TERMS = ("rocksdbCommitFileSyncLatencyMs", "rocksdbLoadLatencyMs",
                 "rocksdbReplayChangeLogLatencyMs",
                 "rocksdbCommitCheckpointLatency", "rocksdbTotalBytesWritten")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return s[k]


# ---------------------------------------------------------------------------
# Process tree memory
# ---------------------------------------------------------------------------

def _children_map():
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """This process and every descendant (JVM, Python workers)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def pss_mb(pid: int) -> float:
    """Proportional set size: shared pages (a forked Python worker and its
    daemon) are split between the sharers instead of counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak memory of the whole process tree (driver, JVM, Python
    workers): the largest summed proportional set size seen at the points
    the workloads call `sample()` (after every call and every open-loop
    tick)."""

    def __init__(self):
        self.peak_mb = 0.0
        self.pids: set[int] = set()

    def sample(self) -> None:
        tree = process_tree()
        self.pids.update(tree)
        self.peak_mb = max(self.peak_mb, sum(pss_mb(p) for p in tree))


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

# Fixed driver heap (-Xms = -Xmx): with a growable heap the JVM's resident
# size swung 1.6-3.2 GB between identical runs; 2 GB slowed batch work ~20%.
DRIVER_MEM = "3g"


def start_spark(cores: int, work: str):
    """Start the package's session on local[cores] with a fixed-size heap.
    Scratch, checkpoints, the warehouse and the JVM temp dir all live
    under `work`, a directory in the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    from kafka_streams_in_action_spark.session import get_spark
    jtmp = os.path.join(work, "jvm")
    os.makedirs(jtmp, exist_ok=True)
    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    })


def stop_spark(spark, tracked_pids=()) -> None:
    """Stop the session and the JVM, then wait until every process the
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    me = os.getpid()
    deadline = time.time() + 60
    while time.time() < deadline:
        alive = [p for p in set(tracked_pids) | set(process_tree())
                 if p != me and os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after stop: {alive}")


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

def parse_ts_ms(ts: str) -> float:
    """'2026-10-17T14:29:33.123Z' → epoch milliseconds."""
    base, frac = ts.rstrip("Z").split(".")
    secs = calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S"))
    return secs * 1000.0 + int(frac[:3].ljust(3, "0"))


def make_listener():
    """A StreamingQueryListener that keeps every progress report (as a
    plain dict), hands each to `on_progress` when one is set, and tracks
    which queries are still running."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.running: set[str] = set()
            self.cond = threading.Condition()
            self.on_progress = None

        def onQueryStarted(self, event):
            with self.cond:
                self.running.add(str(event.runId))

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.cond:
                self.progress.append(p)
            if self.on_progress is not None:
                self.on_progress(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.running.discard(str(event.runId))
                self.cond.notify_all()

        def drain(self, timeout: float = 30.0) -> list[dict]:
            """Wait until every started query has reported termination
            (its last progress arrives before that), then hand back and
            clear the collected reports."""
            with self.cond:
                self.cond.wait_for(lambda: not self.running, timeout)
                out, self.progress = self.progress, []
            return out

    return Listener()


def batch_record(p: dict) -> dict:
    """One micro-batch's numbers from its progress report."""
    d = p.get("durationMs", {})
    rec = {t: float(d.get(t, 0)) for t in DURATION_TERMS}
    ops = p.get("stateOperators") or []
    rec["state_commit"] = float(sum(o.get("commitTimeMs", 0) for o in ops))
    rec["rows_updated"] = float(sum(o.get("numRowsUpdated", 0) for o in ops))
    rec["memory_bytes"] = float(sum(o.get("memoryUsedBytes", 0) for o in ops))
    for t in ROCKSDB_TERMS:
        rec[t] = float(sum((o.get("customMetrics") or {}).get(t, 0)
                           for o in ops))
    rec["input_rows"] = float(p.get("numInputRows", 0))
    rec["start_ms"] = parse_ts_ms(p["timestamp"])
    rec["run_id"] = p.get("runId")
    rec["batch_id"] = p.get("batchId")
    return rec


# ---------------------------------------------------------------------------
# Status store (jobs, stages, tasks) for a job group
# ---------------------------------------------------------------------------

STAGE_TERMS = ("tasks", "executor_run_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "failed_tasks")


def group_jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_metrics(spark, job_ids) -> tuple[dict, list[dict]]:
    """Summed stage metrics over `job_ids`, plus one record per job
    (submission/completion time) for the trace."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tot = dict.fromkeys(STAGE_TERMS, 0.0)
    jobs = []
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        try:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            jobs.append({
                "job": jid,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None})
        except Exception:  # job already evicted from the store
            pass
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped or evicted stage
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["failed_tasks"] += st.numFailedTasks()
            tot["executor_run_ms"] += st.executorRunTime()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return tot, jobs


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent); written out once at the
    end. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent, **attrs):
        """Record a finished span (built from Spark's own reports)."""
        if not self.enabled or start is None or end is None:
            return None
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent, "attrs": attrs})
        return sid

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self time (duration minus the
        union of the child intervals) in milliseconds."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        table: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                cs, ce = max(c["start"], s["start"]), min(c["end"], s["end"])
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            row = table.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                               "self_ms": 0.0})
            row["count"] += 1
            row["total_ms"] += dur * 1000.0
            row["self_ms"] += (dur - covered) * 1000.0
        return table

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time": self.self_times(),
                       **extra}, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# Output checking
# ---------------------------------------------------------------------------

def _norm(v) -> str:
    """Canonical cell text: floats at 6 decimals, bytes as hex, a null
    sentinel — the same canonical form the oracle gate compares."""
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def digest_rows(cols, rows) -> str:
    """Order-independent digest of a result: columns sorted by name, rows
    canonicalized and sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in idx]).encode())
    for row in canon:
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return f"{len(canon)}:{h.hexdigest()[:24]}"


def spark_digest(df, corrupt: bool = False) -> str:
    cols = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    if corrupt:  # the smoke test's deliberately wrong output
        rows = rows[1:] if rows else [tuple(None for _ in cols)]
    return digest_rows(cols, rows)


def oracle_digest(data_dir: str, sql: str) -> str:
    """Run a registered DuckDB oracle over the same parquet tables."""
    import duckdb
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(data_dir, f)}'")
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        return digest_rows(cols, rel.fetchall())
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Host drift sentinel
# ---------------------------------------------------------------------------

def sentinel_ms(spark, cores: int) -> float:
    """Fixed-work shuffle + aggregate sized for `cores` threads (the shape
    of bench.py's contention sentinel, 250k rows per thread). Re-run
    between passes: a contention burst on the host shows as a jump in
    this series while the code under test stays the same."""
    from pyspark.sql import functions as F
    n = 250_000 * cores
    t0 = time.perf_counter()
    (spark.range(0, n, 1, 2 * cores)
     .select((F.col("id") % 100_003).alias("k"),
             ((F.col("id") * 2654435761) % 1_000_003).alias("v"))
     .groupBy("k").agg(F.sum("v").alias("sv"))
     .agg(F.sum("sv")).collect())
    return (time.perf_counter() - t0) * 1000.0
