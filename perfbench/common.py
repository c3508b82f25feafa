"""Shared pieces of the benchmark: the run context, statistics, the Spark
session and its resource readings."""

from __future__ import annotations

import os
import resource
import statistics
import time
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class Context:
    """Everything one workload run needs.  ``work_dir`` is private to the
    run and removed when it ends."""

    spark: object
    work_dir: str
    seed: int
    seconds: float
    smoke: bool = False
    #: a deliberate error in the expected state (tests of the checker)
    fault: Optional[str] = None
    #: ``spans.Tracer`` in a traced run, else ``None``
    tracer: object = None
    session_start_s: float = 0.0


@dataclass
class Result:
    """What a workload run reports.

    ``metrics`` are the end-to-end numbers (name -> (value, unit)),
    ``layers`` the per-layer ones, ``extra`` goes to the report line only.
    """

    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one attempted unit of work; a wrong output is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value, n)``; ``None`` below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    idx = n - 11
    return round(100.0 * (idx + 1) / n, 1), ordered[idx], n


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


# -- Spark session ---------------------------------------------------------


def start_session(work_dir: str, event_log_dir: Optional[str] = None):
    """The engine's own session builder, with every scratch location of
    the JVM inside ``work_dir``."""
    from cdc_data_lake_pyspark_spark import session

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # also the launcher JVM that spark-submit starts first: no hsperfdata
    # file in the machine-wide /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": local,
        # the engine's own -Xlog:disable, plus a private tmpdir
        "spark.driver.extraJavaOptions": f"-Xlog:disable -Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file:{event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return session.build_session(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm: int) -> float:
    """Peak resident set of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{jvm}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


def cpu_s(pids) -> float:
    """User + system CPU seconds used so far by the given processes."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / tick


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def data_files(root: str) -> dict[str, int]:
    """Path -> size in bytes of every parquet data file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                path = os.path.join(dirpath, n)
                out[path] = os.path.getsize(path)
    return out
