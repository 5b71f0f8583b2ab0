"""Shared pieces of the benchmark: run environment, session bootstrap,
host record, spans, status-store readers and small statistics.

Everything here observes the library from outside: it calls public
functions and reads what Spark itself records (status tracker, SQL
status store, streaming progress, checkpoint logs).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
PACKAGE = "real_time_streaming_system_with_apache_kafka_spark"

# The library's 24g default driver heap exceeds small hosts; the
# benchmark pins it through the library's own override.
DRIVER_MEM = "2g"


def process_start_time() -> float:
    """Wall-clock time at which this process was started (/proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.

    Must run before pyspark starts the JVM.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def start_session(cpus: int):
    """The library's session factory, quietened so stdout stays JSON."""
    from real_time_streaming_system_with_apache_kafka_spark.session import get_session

    spark = get_session("perfbench", cpus=str(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_query(spark) -> int:
    """First query of a fresh session: 1,000 generated trades encoded to
    the wire form and collected. Returns the row count."""
    from real_time_streaming_system_with_apache_kafka_spark import generator
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

    return len(ingest.to_wire_json(generator.trades(spark, 1_000)).collect())


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Driver JVM plus this Python process, peak resident set (VmHWM)."""
    return (vm_hwm_kb(jvm_pid(spark)) + vm_hwm_kb()) / 1024.0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostRecord:
    """Host facts plus busy and steal shares over the run (/proc/stat)."""

    def __init__(self):
        self._start = _cpu_ticks()

    def finish(self, spark, cpus: int, seed: int) -> dict:
        end = _cpu_ticks()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta) or 1
        idle = delta[3] + delta[4]  # idle + iowait
        steal = delta[7] if len(delta) > 7 else 0
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
        conf = spark.conf
        return {
            "seed": seed,
            "nproc": os.cpu_count(),
            "cpus_used": cpus,
            "mem_total_mb": round(mem_kb / 1024),
            "busy_pct": round(100.0 * (total - idle - steal) / total, 1),
            "steal_pct": round(100.0 * steal / total, 2),
            "spark_master": spark.sparkContext.master,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        }


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the
    end. Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the part of it
        that child spans cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def sql_metric_totals(spark, since_execution_id: int) -> tuple[int, dict[str, float]]:
    """Sum each SQL metric by name over executions with id above
    ``since_execution_id``, read from Spark's SQL status store.
    Returns (highest execution id seen, totals)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    totals: dict[str, float] = {}
    top = since_execution_id
    it = execs.iterator()
    while it.hasNext():
        ex = it.next()
        eid = ex.executionId()
        if eid <= since_execution_id:
            continue
        top = max(top, eid)
        names = {}
        mit = ex.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            names[m.accumulatorId()] = m.name()
        values = store.executionMetrics(eid)
        vit = values.iterator()
        while vit.hasNext():
            kv = vit.next()
            name = names.get(kv._1())
            if name is None:
                continue
            totals[name] = totals.get(name, 0.0) + _metric_number(kv._2())
    return top, totals


def _metric_number(text: str) -> float:
    """Spark renders a metric as '123', '1.2 KiB' or 'total (min, med,
    max ...)\\n4.1 MiB (...)'; take the total and convert to base units."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    token = line.split("(")[0].strip()
    units = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
             "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
    parts = token.replace(",", "").split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    if len(parts) > 1:
        value *= units.get(parts[1], 1)
    return value


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method) of at least two values."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
