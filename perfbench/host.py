"""Host sizing, the run's scratch area, process control and memory sampling.

Everything the benchmark writes lives under ``<repo>/.perfbench_work``:
the input cache (kept across runs, keyed by seed), one scratch dir per
run (outputs, ``spark.local.dir``, temp files, the event log; removed
when the run ends) and the last run's Spark log per workload. The dir
sits on whatever filesystem holds the checkout, and nothing is fsynced:
outputs are read back from the OS page cache, so latencies are this
host's, not a storage device's.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads: one per core but one.

    The spare core runs the driver, the JVM's own threads and the Python
    worker daemon. With a task thread on every core the same runs spread
    1.2–1.8 times as far between runs on a shared 4-core host, for no
    gain in throughput (interleaved runs, 5 seeds each: freeze 3% faster,
    decode 10% and no-op resume 17% slower than at ``nproc - 1``).
    """
    return max(1, nproc() - 1)


def ram_gb() -> float:
    return os.sysconf("SC_PHYS_PAGES") * PAGE / 2**30


def driver_mem() -> str:
    """Spark driver heap: a quarter of host RAM, at most 4g.

    ``local[n]`` runs every executor inside the driver JVM, and the
    engine's own default (24g) exceeds many hosts' RAM.
    """
    return f"{max(1, min(4, int(ram_gb() // 4)))}g"


def calibration() -> dict:
    """~0.3 s single-thread CPU and memcpy probe, best of 3 each."""
    import numpy as np

    a = np.arange(10_000_000, dtype=np.int32)
    dst = np.empty_like(a)
    np.copyto(dst, a)
    cpu = mem = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        int(a.astype(np.int64).sum())
        cpu = max(cpu, a.nbytes / (time.perf_counter() - t0) / 1e9)
        t0 = time.perf_counter()
        np.copyto(dst, a)
        mem = max(mem, a.nbytes / (time.perf_counter() - t0) / 1e9)
    return {"cpu_scan_gbps": round(cpu, 2), "memcpy_gbps": round(mem, 2)}


class RunDir:
    """Scratch dir of one run; removed by :meth:`close`."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog", "out"):
            os.makedirs(os.path.join(self.path, sub))
        self.log = os.path.join(self.path, "spark.log")
        self.workload = workload

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        logs = os.path.join(WORK, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(self.log):
            shutil.copyfile(self.log, os.path.join(logs, f"{self.workload}.log"))
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(run: RunDir, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": run.sub("local"),
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.sub('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + run.sub("eventlog")
        conf["spark.eventLog.compress"] = "true"
        conf["spark.eventLog.compression.codec"] = "zstd"
    return conf


def isolate_env(run: RunDir) -> None:
    """Point every temp-file user (the package zip, Python workers) at
    the run dir and size the driver for this host, before pyspark loads."""
    os.environ["TMPDIR"] = run.sub("tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())


@contextlib.contextmanager
def output_to(path: str):
    """Send fds 1 and 2 to ``path`` for the block.

    Processes spawned inside (the Spark JVM, and through it every Python
    worker) keep writing there after the block: their logs stay off
    stdout, which carries only the benchmark's own report.
    """
    saved = [os.dup(1), os.dup(2)]
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        yield
    finally:
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for f in (fd, *saved):
            os.close(f)


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in (root, *descendants(root)):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every ``period`` s while
    :meth:`measuring` is active."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.period):
            if self._on.is_set():
                self.peak = max(self.peak, tree_rss_bytes(pid))

    @contextlib.contextmanager
    def measuring(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM
    and every Python worker it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        with contextlib.suppress(OSError):
            os.kill(pid, 9)
