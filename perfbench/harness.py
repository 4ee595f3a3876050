"""Shared plumbing for the tier-engine benchmark.

Everything here is outside the engine: the checkout layout, a scratch
directory inside the checkout, a host-fit Spark session built through
`tstoken.session.get_spark(extra_conf=...)`, provenance and process memory.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SRC = ROOT / "src"
WORK_ROOT = ROOT / ".bench_work"
RESULTS_DIR = ROOT / ".bench_results"


class CheckoutError(RuntimeError):
    """The checkout lacks the engine sources the benchmark drives."""


def require_engine() -> None:
    """Make `tstoken` importable from the checkout's own `src/`, or fail."""
    if not (SRC / "tstoken" / "__init__.py").is_file():
        raise CheckoutError(f"no engine sources under {SRC}")
    if str(SRC) not in sys.path:
        sys.path.insert(0, str(SRC))


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


@contextmanager
def work_dir(tag: str):
    """A private scratch directory inside the checkout, removed on exit.

    TMPDIR and SPARK_LOCAL_DIRS point into it so neither the driver, the
    JVM nor the Python workers write outside the checkout."""
    path = WORK_ROOT / f"{tag}-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    tmp = path / "tmp"
    tmp.mkdir(parents=True)
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")}
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(path / "spark-local")
    try:
        yield path
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(path, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    """Host-fit overrides for `get_spark`: heap from physical RAM, no
    console progress bars, every Spark scratch path inside `work`, and
    the task event log only when tracing."""
    driver_mb = max(1024, host_mem_mb() // 8)
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(work: Path, trace: bool):
    from tstoken.session import get_spark

    cores = host_cores()
    spark = get_spark("tstoken-perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores,
                      extra_conf=session_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session, then the JVM pyspark launched and every process
    it forked (the Python workers), and wait until each has ended.

    Stopping the context alone leaves the JVM running for reuse; it would
    only exit on its own after this process had, so a later run could
    find it still alive. Safe to call when the session never finished
    starting."""
    from pyspark import SparkContext

    me = os.getpid()
    forked = set(_proc_tree(me)) - {me}
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        forked |= set(_proc_tree(me)) - {me}
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on EOF
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _end_processes(forked)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _end_processes(pids: set[int], grace_s: float = 10.0) -> None:
    """TERM, then KILL, whatever of `pids` still runs; return once none
    does. Reparented workers are reaped by init, so poll /proc."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        for p in live:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        end = time.monotonic() + wait_s
        while time.monotonic() < end and any(_alive(p) for p in live):
            time.sleep(0.05)


# ------------------------------------------------------------ provenance

def _cmd(args: list[str]) -> str | None:
    try:
        out = subprocess.run(args, capture_output=True, text=True,
                             timeout=30, cwd=ROOT)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest() -> str:
    """sha256 over the engine sources, so a record identifies the code
    even in a checkout that is not a git repository."""
    h = hashlib.sha256()
    for p in sorted(SRC.rglob("*.py")):
        h.update(str(p.relative_to(SRC)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def provenance(spark, seed: int) -> dict:
    commit = _cmd(["git", "rev-parse", "HEAD"])
    dirty = None
    if commit is not None:
        dirty = bool(_cmd(["git", "status", "--porcelain", "--", "src"]))
    jvm = spark.sparkContext._jvm
    return {
        "commit": commit,
        "dirty": dirty,
        "source_sha256": source_digest(),
        "host": {"nproc": host_cores(), "mem_mb": host_mem_mb(),
                 "machine": platform.machine()},
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "seed": seed,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


# ---------------------------------------------------------------- memory

def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its live descendants (the
    Spark JVM and the Python workers it forked), in MB."""
    total_kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
