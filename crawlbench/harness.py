"""Process set-up shared by the workloads: environment, Spark session,
scratch space, timing and memory helpers."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".crawlbench_work")
# set-ups per run; the first also starts the JVM, the median is a warm one
SETUP_REPS = 3
_T0 = time.monotonic()


def slots() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> str:
    """Point every temp and scratch path into the checkout and put it on
    the Python workers' import path, before the JVM starts.  Returns this
    process's scratch directory."""
    scratch = os.path.join(WORK, str(os.getpid()))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return scratch


def build_session(scratch: str, event_log_dir: str | None = None):
    """The library's tuned session on local[nproc]; the event log is turned
    on only through session conf."""
    from hepcrawl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    n = slots()
    spark = get_spark(
        app_name="crawlbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this driver process plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb(os.getpid()) + _hwm_kb(int(jvm_pid))) / 1024.0


def now_ms() -> float:
    return time.time() * 1000.0


def median(values) -> float:
    return float(statistics.median(values))


def closed_loop(op, seconds: float, min_ops: int = 1) -> list:
    """Call ``op()`` back to back, one call at a time, until ``seconds``
    have passed and at least ``min_ops`` calls were made.  -> the
    results."""
    results = []
    t0 = time.monotonic()
    while len(results) < min_ops or time.monotonic() - t0 < seconds:
        results.append(op())
    return results


def force(df) -> None:
    """Run a DataFrame's whole plan without collecting or writing it."""
    df.write.format("noop").mode("overwrite").save()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


def log(msg: str) -> None:
    print(f"crawlbench [{time.monotonic() - _T0:6.1f} s]: {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
