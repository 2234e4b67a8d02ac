"""Process environment and Spark session set-up.

The environment is pinned here, in the benchmark's own process, so the
program's ``session.py`` defaults (32 cores, a 48g heap) never apply:
half the machine's cores, a heap that fits a 15 GB machine, a serial
garbage collector, Python workers that import the repository from the
checkout, and every scratch file Spark, the JVM or Python writes in
the run's own directory.
"""

from __future__ import annotations

import os
import shlex
import shutil
import tempfile
import time

import pandas as pd

JVM_HEAP = "2g"
# One GC thread: the threads of a parallel collection spin while the
# host holds up one of them, and the spinning counts as CPU time. A
# fixed set of JIT compiler threads, which ``tree_cpu_s`` leaves out.
JVM_FLAGS = "-XX:+UseSerialGC -XX:-UseDynamicNumberOfCompilerThreads"


def cores() -> int:
    """Spark task slots: half the machine's cores. An operation is
    mostly single-threaded plan work on the driver, while the JVM's
    compiler and GC threads, the Python driver and the Python workers
    need cores of their own; with a slot per core the runs measured
    the scheduler, and were no faster."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str, reaped: bool) -> int:
    """utime + stime of one /proc stat file, plus cutime + cstime (the
    reaped children's) if ``reaped``."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants (the JVM, its Python daemon and workers, and any
    descendant that has exited and been reaped), less the JVM's JIT
    compiler threads. Read from /proc; time the host stole from a
    virtual CPU is not CPU time.

    The compiler threads are left out because how much they compile
    while a given operation runs depends on how far the JIT has got,
    not on the operation: it moved an operation's CPU time by a tenth
    from run to run. ``JVM_FLAGS`` keeps them alive for the whole run,
    so their time never folds into the JVM's total."""
    hz = os.sysconf("SC_CLK_TCK")
    ticks, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            ticks[int(name)] = _ticks(f"/proc/{name}/stat", reaped=True)
        except OSError:  # the process has just exited
            continue
        kids.setdefault(ppid, []).append(int(name))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0) - _compiler_ticks(pid)
        todo += kids.get(pid, [])
    return total / hz


def _compiler_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            total += _ticks(f"/proc/{pid}/task/{tid}/stat", reaped=False)
        except OSError:  # the thread has just exited
            continue
    return total


def pin_environment(repo_root: str, run_dir: str) -> None:
    """Fresh per-run scratch and the environment the JVM and its Python
    workers inherit. Call before the session starts."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_FLAGS}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", shlex.quote("spark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse")),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def start_session(n_cores: int):
    """(spark, jvm_start_s, worker_spawn_s): the program's own session
    factory, then one Arrow-batched Python UDF task per core so every
    Python worker is spawned and has imported pandas and pyarrow."""
    from pyspark.sql import functions as F

    from cccatalog_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=n_cores)
    t1 = time.perf_counter()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, 4096, 1, n_cores).select(plus_one("id").alias("x")).agg(
        F.sum("x")).collect()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit; its Python
    workers exit with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
