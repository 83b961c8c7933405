"""Process and host hygiene for one benchmark run.

Spark's temp files, the JVM's temp dir and Python's tempfiles all go
under the run's work directory; the package root goes on PYTHONPATH so
the Python workers can unpickle the package's UDFs; and a run ends only
after the JVM and every process it started have exited.
"""

from __future__ import annotations

import os
import shlex
import signal
import time


def prepare_env(root: str, work: str) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.local.dir={local}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def cpu_times() -> dict:
    """Host-wide steal seconds and 1-minute load average, now."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    hz = os.sysconf("SC_CLK_TCK")
    steal = int(fields[8]) / hz if len(fields) > 8 else 0.0
    return {"steal_s": steal, "loadavg_1m": os.getloadavg()[0]}


def _children() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        out[int(entry)] = ppid
    return out


def descendants(pid: int) -> list[int]:
    parents = _children()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait for it and for every
    process it started (Python daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = ([proc.pid] + descendants(proc.pid)) if proc is not None else []
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # noqa: BLE001 — a broken gateway still gets the JVM stopped below
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    for pid in procs:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
