"""Shared plumbing: checkout paths, host fingerprint, host-sized Spark
settings, and memory use from /proc."""

from __future__ import annotations

import json
import os
import platform
import socket
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE_DIR = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(STATE_DIR, "data")
RECORD_DIR = os.path.join(STATE_DIR, "records")

with open(os.path.join(BENCH_DIR, "conf.json")) as _fh:
    CONF = json.load(_fh)

WORKLOADS = ("pipeline_text", "curation_mix")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def driver_mb() -> int:
    return max(1024, min(2048, meminfo_mb()["MemTotal"] // 8))


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def spark_settings(traced: bool, ui_port: int = 0) -> dict[str, str]:
    """The Spark settings of conf.json with the host-derived values filled in."""
    n = nproc()
    values = {
        "nproc": n,
        "driver_mb": driver_mb(),
        "shuffle_partitions": CONF["shuffle_partitions_per_cpu"] * n,
        "state": STATE_DIR,
        "ui_port": ui_port,
    }
    conf = dict(CONF["spark"])
    if traced:
        conf.update(CONF["traced_spark"])
    return {k: v.format(**values) for k, v in conf.items()}


def child_env() -> dict[str, str]:
    """Environment for the Spark processes: every temp file inside the
    checkout, and no inherited override of the settings above."""
    env = dict(os.environ)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS"):
        env.pop(var, None)
    tmp = os.path.join(STATE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)  # tempfile falls back to /tmp if it is missing
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(STATE_DIR, "spark-local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, BENCH_DIR, env.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
    )
    return env


def host_fingerprint() -> dict:
    info = {
        "nproc": nproc(),
        "mem_total_mb": meminfo_mb()["MemTotal"],
        "python": platform.python_version(),
        "machine": platform.machine(),
    }
    try:
        import pyspark
        import pyarrow

        info["spark"] = pyspark.__version__
        info["pyarrow"] = pyarrow.__version__
    except ImportError:
        pass
    try:
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
        out = subprocess.run([java, "-version"], capture_output=True, text=True, timeout=30)
        info["jdk"] = out.stderr.splitlines()[0] if out.stderr else "?"
    except (OSError, subprocess.SubprocessError):
        pass
    try:
        with open("/proc/cpuinfo") as fh:
            info["cpu"] = next(
                (l.split(":", 1)[1].strip() for l in fh if l.startswith("model name")), "?"
            )
    except OSError:
        pass
    return info


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``. A session, not a
    process group: PySpark's worker daemon moves into a group of its own."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def session_pss_kb(sid: int) -> int:
    """Summed proportional set size (PSS) of session ``sid``. PSS splits a
    shared page among the processes mapping it, so forked Python workers do
    not count their parent's pages again."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next((int(l.split()[1]) for l in fh if l.startswith("Pss:")), 0)
        except OSError:
            continue
    return total


def jvm_heap_mb(spark) -> dict:
    """The driver JVM's heap: its cap, and what it has committed. G1 commits
    heap as the live data and allocation rate need it, up to the cap."""
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {"max": heap.getMax() / 2**20, "committed": heap.getCommitted() / 2**20}


def emit(obj: dict) -> None:
    """Child → parent channel: one tagged JSON line on stdout."""
    sys.stdout.write("@@" + json.dumps(obj) + "\n")
    sys.stdout.flush()


def now() -> float:
    return time.monotonic()
