"""Host-side measurement: process-tree CPU and RSS, steal, versions.

Everything here reads /proc, so the benchmark measures the Python
process, the JVM it launches and the JVM's Python workers as one tree
without instrumenting any of them.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after ')' splits cleanly
    return raw[raw.rindex(")") + 2 :].split()


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids() -> list[int]:
    """This process and all of its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of the tree, JIT compiler threads excluded.

    Spark's generated code keeps the JVM's compiler threads busy for
    many passes, and how much they compile differs from JVM to JVM; that
    CPU says nothing about the work a pass does, so it is subtracted.
    Compiler threads must not exit (the JVM runs with
    -XX:-UseDynamicNumberOfCompilerThreads), or their CPU would leave the
    per-thread sum while staying in the process total.
    """
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # utime stime cutime cstime are fields 14-17 (1-based)
        ticks += sum(int(x) for x in fields[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tids) < 2:
            continue
        for tid in tids:
            try:
                raw = Path(f"/proc/{pid}/task/{tid}/stat").read_text()
            except OSError:
                continue
            if "CompilerThre" in raw[raw.index("(") : raw.rindex(")")]:
                ticks -= sum(int(x) for x in raw[raw.rindex(")") + 2 :].split()[11:13])
    return ticks / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum over the tree of each process's peak RSS (VmHWM), in MiB.

    An upper bound on the tree's simultaneous peak that needs no
    sampling thread; it is exact when every process peaks together.
    """
    kib = 0
    for pid in tree_pids():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kib += int(line.split()[1])
        except OSError:
            pass
    return kib / 1024


def live_heap_mb(spark) -> list[float]:
    """JVM heap in use after full collections, in MiB: what the engine
    still holds between jobs (cached and checkpointed blocks, broadcasts,
    listener state). The last reading is the figure.

    Python's collector runs first, so JVM objects only a dead Python
    proxy kept alive are released. Spark's ContextCleaner frees shuffle
    and broadcast state only after a collection has cleared its weak
    references, so collections repeat, half a second apart, until a
    third or later reading stops falling, at most eight times.
    """
    import gc

    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(8):
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and readings[-1] >= 0.99 * readings[-2]:
            break
        time.sleep(0.5)
    return readings


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


def source_digest(root: Path) -> str:
    """sha256 over the engine's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    for path in sorted((root / "weather_etl_spark").rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def host_record(root: Path, spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
    }


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM it launched and wait for every descendant."""
    from pyspark import SparkContext

    descendants = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in descendants:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
