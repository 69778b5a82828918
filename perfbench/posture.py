"""The one session posture every benchmark run uses.

Everything that moved walls by large factors in earlier measurements is
pinned here rather than inherited from ``session.get_spark`` defaults or the
environment: core count, shuffle width, scan split size, AQE, driver heap
and where Spark keeps its scratch files. The values are recorded next to
every result (``posture()``) so two runs can be compared only when their
postures match.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from pathlib import Path

# Driver heap: the host is shared, and every workload fits well inside it.
DRIVER_MEMORY = "2g"

# Driver JVM: a fixed-size heap (so peak RSS does not follow the heap's
# growth decisions) and fewer JIT and GC threads, which otherwise compete
# with the task threads for the cores; no hsperfdata file in /tmp.
JVM_OPTIONS = (
    f"-Xms{DRIVER_MEMORY}",
    "-XX:CICompilerCount=2",
    "-XX:ParallelGCThreads=2",
    "-XX:ConcGCThreads=1",
    "-XX:-UsePerfData",
)

# AQE stays off for every timed execution: at this scale each AQE stage is
# submitted, finalized and re-planned as its own job, which costs more than
# any re-plan saves (bench.py's local posture). The registry's queries()
# wrappers call session.ensure_confs, which turns AQE back on, so
# ``pin(spark)`` runs before every timed operation.
SQL_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "256k",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def prepare_env(root: Path, work: Path) -> None:
    """Environment for the driver JVM and Spark's Python workers; must run
    before pyspark starts its gateway.

    ``PYTHONPATH`` carries the checkout root so worker processes can import
    the package wherever the benchmark is launched from (lazy in-function
    imports such as ``operators/pq.py``'s ``from .clustering import ...``
    otherwise fail in the worker)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(tmp)
    # the spark-submit launcher JVM: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def session_confs(work: Path) -> dict[str, str]:
    return {
        **SQL_CONFS,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": " ".join((*JVM_OPTIONS, f"-Djava.io.tmpdir={work / 'tmp'}")),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: Path):
    """Start the benchmark's SparkSession through the package's own factory
    (local[cpus], Arrow on, UTC, UI off) with the pinned confs on top."""
    from wnba_data_pipeline_spark.session import ensure_confs, get_spark

    spark = get_spark(
        "perfbench",
        shuffle_partitions=int(SQL_CONFS["spark.sql.shuffle.partitions"]),
        extra_confs=session_confs(work),
    )
    ensure_confs(spark)
    pin(spark)
    return spark


def _parent_and_state(pid: int) -> tuple[int, str] | None:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[1]), fields[0]


def _alive(pid: int) -> bool:
    got = _parent_and_state(pid)
    return got is not None and got[1] != "Z"


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in Path("/proc").iterdir():
        if entry.name.isdigit() and (got := _parent_and_state(int(entry.name))):
            children.setdefault(got[0], []).append(int(entry.name))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.add(child)
            todo.append(child)
    return found


def stop_session(grace_s: float = 60.0) -> None:
    """Stop Spark and the driver JVM, and return only when the JVM and every
    process under it (the Python worker daemons and their workers) have
    ended. ``SparkContext.stop`` leaves the JVM running, and the JVM exits
    on its own only some time after this process closes its stdin; the
    worker daemons are signalled but not waited for. Whatever outlives
    ``grace_s`` is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    family = descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        family |= descendants(os.getpid())
        try:
            gateway.shutdown()
        except Exception:  # the JVM side may already be gone
            pass
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + grace_s
        while (left := [p for p in family if _alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(_alive(p) for p in left):
            time.sleep(0.05)
        SparkContext._gateway = SparkContext._jvm = None


def pin(spark) -> None:
    """Re-apply the pinned SQL confs (ensure_confs re-enables AQE)."""
    for k, v in SQL_CONFS.items():
        spark.conf.set(k, v)


def posture(spark) -> dict[str, str]:
    return {
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
        "jvm_options": " ".join(JVM_OPTIONS),
        **{k: spark.conf.get(k) for k in SQL_CONFS},
    }
