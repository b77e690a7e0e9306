"""The benchmark's Spark session: started through the program's
``session.get_spark`` with every scratch path inside the run's work
directory, and stopped so that the JVM and the Python workers it
started have ended before the benchmark exits."""

from __future__ import annotations

import os
import signal
import sys
import time


def cpu_count() -> int:
    """What ``nproc`` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def start(work: str, cpus: int):
    """Start ``local[cpus]`` with Spark's, the JVM's and the Python
    workers' scratch files under ``work``."""
    from vector_database_in_rust_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=cpus,
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run visible to the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """``VmHWM`` of this Python process plus its JVM child."""
    pid = jvm_pid(spark)
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(pid) if pid else 0)
    return kb / 1024.0


def spark_failed_tasks(spark) -> int:
    """Failed tasks over every job the session ran. Job ids are
    consecutive from 0; every job is retained (see :func:`start`)."""
    tracker = spark.sparkContext.statusTracker()
    failed = 0
    misses = 0
    j = 0
    while misses < 50:
        info = tracker.getJobInfo(j)
        j += 1
        if info is None:
            misses += 1
            continue
        misses = 0
        for sid in list(info.stageIds):
            st = tracker.getStageInfo(sid)
            if st is not None:
                failed += st.numFailedTasks
    return failed


def drain_listener(spark) -> None:
    """Let the status tracker catch up with jobs that just finished
    (listener events are delivered asynchronously)."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — private API; fall back to a pause
        time.sleep(1.0)


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until it and every process it started have ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already closed
        pass
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout_s)
    except Exception:  # noqa: BLE001 — any failure: make sure it dies
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
