"""Process-level plumbing for the benchmark: the Spark session it drives,
the scratch directory it writes into, and the statistics it reports.

Everything the benchmark writes lives under `<checkout>/.perfbench_work/`
(tables, staging, Spark local dirs, JVM and Python temp files), and the
directory is removed when the run ends.
"""

from __future__ import annotations

import math
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"

# One local executor thread per core, capped at the 4 the benchmark was
# sized on; the driver heap stays far below a 15 GB host's RAM.
MAX_CORES = 4
DRIVER_MEMORY = "2g"


def cores() -> int:
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def prepare_environment(work: Path) -> None:
    """Point every temp location at `work` and make the repository package
    importable in the driver and in Spark's Python workers (which inherit
    this process's environment through the JVM)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # window bounds are naive UTC datetimes, like the session time zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the benchmark's own UDFs pickle by reference to its modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(work: Path, trace: bool):
    """The engine's own session factory, with host-fit overrides."""
    from tapdata_connectors_spark.session import build_session

    n = cores()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed-size heap keeps peak RSS from tracking GC resizing
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the status store answers job/stage queries with the UI off; keep
        # every job of the run so spans can be attributed at the end
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    spark = build_session(f"local[{n}]", app_name="perfbench",
                          shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and every process it started
    (Python workers) has exited; kill what outlives a grace period."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    procs = descendants(os.getpid())
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def dir_mb(path: Path) -> float:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
    return total / 1e6


def remove_tree(path: Path) -> None:
    """rmtree that outlasts files vanishing under it (the JVM's exit hooks
    delete their own scratch directories)."""
    for _ in range(10):
        shutil.rmtree(path, ignore_errors=True)
        if not path.exists():
            break
        time.sleep(0.5)
    try:
        path.parent.rmdir()  # the shared work root, once no run uses it
    except OSError:
        pass


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# ---------------------------------------------------------------- statistics
def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 21 samples that percentile is not above the
    median, and the maximum is reported as percentile 100 instead."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return s[-1], 100.0
    k = n - 11  # 0-based rank with exactly ten samples above it
    return s[k], 100.0 * (k + 1) / n


def timing_record(xs: list[float]) -> dict:
    v, p = tail(xs)
    return {"p50": statistics.median(xs), "tail": v, "tail_pct": round(p, 1),
            "samples": len(xs)}


def ceil_div(a: float, b: float) -> int:
    return max(1, math.ceil(a / b))
