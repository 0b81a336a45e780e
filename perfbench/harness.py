"""Shared plumbing: environment pinning, session set-up, memory sampling,
percentiles, and folding Spark's event log into per-layer counters.

Nothing here imports the engine at module import time, so ``run.py`` can
fail fast (and print no result) in a directory that lacks it.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import signal
import subprocess
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(workdir: str, cpus: int) -> dict:
    """Set what the engine reads from the environment before its JVM and
    Python workers start, and return it for the trace artifact.

    - PYTHONPATH: pandas-UDF workers import the engine package by name;
    - SPARK_GRAFT_CPUS: local[N] with N = usable cores;
    - SPARK_GRAFT_DRIVER_MEM: a quarter of host RAM, at most 4g (the
      engine's 16g default can exceed small hosts);
    - SPARK_LOCAL_DIRS: shuffle/spill scratch inside the run directory;
    - TMPDIR: Python temp files (the py4j connection file) there too.
    """
    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    mem_gb = max(1, min(4, int(host_ram_gb() // 4)))
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": os.path.join(workdir, "tmp"),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    return env


def session_conf(workdir: str, trace: bool) -> dict:
    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # JVM temp files (native library extraction) stay in the run
        # directory; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(workdir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one JSON-lines file per SparkContext
            }
        )
    return conf


def warm_up(spark, cpus: int) -> None:
    """One small shuffle job: spins up executors' task threads and the
    codegen path every workload uses."""
    spark.range(0, 200_000, numPartitions=cpus).selectExpr("id % 97 AS k").groupBy("k").count().collect()


@dataclass
class Setup:
    spark: object
    get_spark_s: float
    warm_s: float

    @property
    def setup_s(self) -> float:
        return self.get_spark_s + self.warm_s


def set_up(conf: dict, cpus: int) -> Setup:
    """Start the session cold, as a first caller sees it: JVM launch,
    session build and the first job.  Each run is a fresh process, so
    this is the only start the JVM has had."""
    from cdc_pipeline_with_kafka_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, cpus)
    return Setup(spark, t1 - t0, time.perf_counter() - t1)


def stop_jvm() -> None:
    """Stop the session and the py4j gateway JVM, then make sure every
    process started under this one (the JVM and its Python workers) has
    ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = _tree(os.getpid())[1:]
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    stragglers = _wait_gone(started, 30)
    for pid in stragglers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(stragglers, 10)


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait for ``pids`` to end; return those still running at the timeout."""
    deadline = time.time() + timeout_s
    alive = [pid for pid in pids if _alive(pid)]
    while alive and time.time() < deadline:
        time.sleep(0.05)
        alive = [pid for pid in alive if _alive(pid)]
    return alive


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it if it is an exited child."""
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done:
            return False
    except ChildProcessError:  # not our child: reaped by init when it exits
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100 * len(s)) - 1))
    return s[k]


def weighted_percentile(pairs: list[tuple[float, int]], q: float) -> float:
    """Percentile over values each repeated ``weight`` times."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    rank = max(1, math.ceil(q / 100 * total))
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= rank:
            return v
    return pairs[-1][0]


class RssSampler:
    """Peak of the summed resident memory of this process and all its
    descendants (the driver JVM and the Python workers), sampled from
    /proc on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in _tree(os.getpid())))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ------------------------------------------------------------ event log
def fold_event_log(eventlog_dir: str) -> dict:
    """Fold SparkListener events into totals and per-job-description
    groups (one group per streaming query): job wall time, stages, tasks, task run/CPU/GC time, shuffle
    bytes and spill bytes."""
    total = _new_group()
    groups: dict[str, dict] = {}
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        # one file per SparkContext; job and stage ids restart in each
        job_desc: dict[int, str] = {}
        stage_desc: dict[int, str] = {}
        job_start: dict[int, int] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = _group_name(props.get("spark.job.description") or "")
                    jid = ev["Job ID"]
                    job_desc[jid] = desc
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                    for grp in (groups.setdefault(desc, _new_group()), total):
                        grp["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":  # skipped stages never complete
                    desc = stage_desc.get(ev["Stage Info"]["Stage ID"], "")
                    for grp in (groups.setdefault(desc, _new_group()), total):
                        grp["stages"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    ms = ev["Completion Time"] - job_start.get(jid, ev["Completion Time"])
                    for grp in (groups.setdefault(job_desc.get(jid, ""), _new_group()), total):
                        grp["job_ms"] += ms
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    desc = stage_desc.get(ev.get("Stage ID"), "")
                    for grp in (groups.setdefault(desc, _new_group()), total):
                        grp["tasks"] += 1
                        grp["task_run_ms"] += m.get("Executor Run Time", 0)
                        grp["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                        grp["gc_ms"] += m.get("JVM GC Time", 0)
                        sr = m.get("Shuffle Read Metrics") or {}
                        grp["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        grp["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        grp["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"total": total, "by_description": groups}


def _new_group() -> dict:
    return dict.fromkeys(
        ("jobs", "stages", "tasks", "job_ms", "task_run_ms", "task_cpu_ms", "gc_ms",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
        0,
    )


_QUERY_ID = re.compile(r"(?:^|\n)id = ([0-9a-f-]+)")


def _group_name(desc: str) -> str:
    # micro-batch jobs carry "id = <query id>\nrunId = ...\nbatch = N";
    # fold them by query, not by batch
    m = _QUERY_ID.search(desc)
    return f"stream:{m.group(1)}" if m else desc


def exec_totals(folded: dict, groups) -> dict:
    """Sum of the event-log groups whose description starts with one of
    ``groups``."""
    out = _new_group()
    for desc, grp in folded["by_description"].items():
        if desc.startswith(tuple(groups)):
            for k in out:
                out[k] += grp[k]
    return out
