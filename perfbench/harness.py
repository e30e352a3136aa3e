"""Process-level plumbing shared by the workloads: the Spark session the job
CLI ships with, set-up, clean shutdown, process-tree RSS, the span tracer,
the Spark event-log reader and the host/config record."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time

from pdfplucker_spark.session import get_spark

APP = "pdfplucker_spark.job"  # the name job.main gives its session
# job.main's default driver heap is 16g. On a 4-CPU, 15 GB host that heap
# grew a traced run's process tree to 4.8-7.6 GB peak RSS (2g: 3.1-3.3 GB)
# without a faster run_s, so the benchmark sets the knob job.main itself
# reads, SPARK_DRIVER_MEM, as an operator of such a host would.
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, event_log: bool) -> dict:
    """job.main's extra_conf (snappy) plus the settings that keep every file
    Spark writes inside the benchmark's work dir."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: str, event_log: bool):
    """The session job.main builds, with SPARK_DRIVER_MEM=DRIVER_MEM, at
    local[nproc] with nproc shuffle partitions."""
    n = nproc()
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    return get_spark(
        app=APP,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=session_conf(work, event_log),
    )


def setup(work: str, event_log: bool, warm_up):
    """Launch the JVM, build the session and warm it: everything the timed
    iterations wait for. Returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = start_session(work, event_log)
    warm_up(spark)
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, then wait until every process that ran
    under this one (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15  # Python workers exit once the JVM is gone
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.2)
    for pid in started:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.time() < deadline + 10:
        time.sleep(0.2)


# --------------------------------------------------------------------------
# process tree + RSS
# --------------------------------------------------------------------------
def _ppids() -> dict:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
            out[int(d)] = int(s[s.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(root: int) -> list:
    pp = _ppids()
    kids: dict = {}
    for pid, ppid in pp.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")
def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------
class Tracer:
    """In-memory spans around calls into the program's layers. Each span has
    name, start, end, parent and run id; Spark jobs started inside a span
    carry ``<run_id>|<name>`` as their description, which ties the event
    log's stage records to the span. Disabled, it records nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(f"{self.run_id}|{name}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{self.run_id}|{self._stack[-1]['name']}" if self._stack else None
            )

    def self_times(self) -> dict:
        """name -> total self time (duration minus child-covered time)."""
        child: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------
def read_event_log(work: str) -> list:
    """Events of the most recent application's log (complete after stop)."""
    files = sorted(glob.glob(os.path.join(work, "eventlog", "*")), key=os.path.getmtime)
    if not files:
        return []
    with open(files[-1]) as f:
        return [json.loads(line) for line in f if line.strip()]


def stage_records(events: list) -> dict:
    """stage id -> {description, tasks, run_s, cpu_s, gc_s, shuffle_read,
    shuffle_write, spill, durations}."""
    desc_of_stage, stages = {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            d = (e.get("Properties") or {}).get("spark.job.description") or ""
            for sid in e.get("Stage IDs", []):
                desc_of_stage.setdefault(sid, d)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            r = stages.setdefault(
                sid,
                {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read": 0,
                 "shuffle_write": 0, "spill": 0, "durations": []},
            )
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            r["tasks"] += 1
            r["run_s"] += m.get("Executor Run Time", 0) / 1e3
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            r["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            r["durations"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    jobs_of_desc: dict = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            d = (e.get("Properties") or {}).get("spark.job.description") or ""
            jobs_of_desc[d] = jobs_of_desc.get(d, 0) + 1
    for sid, r in stages.items():
        r["description"] = desc_of_stage.get(sid, "")
    return {"stages": stages, "jobs": jobs_of_desc}


def engine_totals(rec: dict, match) -> dict:
    """Sums over the stages and jobs whose description satisfies ``match``."""
    st = [r for r in rec["stages"].values() if match(r["description"])]
    widest = max(st, key=lambda r: r["tasks"], default=None)
    skew = 0.0
    if widest and widest["durations"]:
        med = statistics.median(widest["durations"]) or 1
        skew = max(widest["durations"]) / med
    return {
        "jobs": sum(n for d, n in rec["jobs"].items() if match(d)),
        "stages": len(st),
        "tasks": sum(r["tasks"] for r in st),
        "executor_run_s": sum(r["run_s"] for r in st),
        "executor_cpu_s": sum(r["cpu_s"] for r in st),
        "gc_s": sum(r["gc_s"] for r in st),
        "shuffle_read_bytes": sum(r["shuffle_read"] for r in st),
        "shuffle_write_bytes": sum(r["shuffle_write"] for r in st),
        "spill_bytes": sum(r["spill"] for r in st),
        "exchanges": sum(1 for r in st if r["shuffle_write"] > 0),
        "task_skew": skew,
    }


# --------------------------------------------------------------------------
# host + config record, calibration
# --------------------------------------------------------------------------
def host_record(spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    conf = spark.conf
    keys = [
        "spark.master",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.shuffle.partitions",
        "spark.sql.parquet.compression.codec",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.files.maxPartitionBytes",
        "spark.driver.memory",
        "spark.eventLog.enabled",
    ]
    return {
        "nproc": nproc(),
        "versions": {
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
        },
        "conf": {k: conf.get(k, None) for k in keys},
    }


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calibrate(spark) -> float:
    """bench.py's pure-codegen calibration leg (no IO, no shuffle), at a
    quarter of its row count; a host-drift indicator only."""
    n = nproc()
    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, n).selectExpr(
        "sum((id * 2654435761) % 1000000007) AS s"
    ).collect()
    return time.perf_counter() - t0


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
