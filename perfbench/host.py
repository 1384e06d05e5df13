"""Host fit for the benchmark: the Spark session it runs against and the
sampler of the process tree's CPU time and memory.

The session is built here, not through `warctools_spark.session.get_spark`,
because the engine defaults do not fit a small host: `get_spark` picks
`local[32]` unless SPARK_GRAFT_CPUS is set and `engine_conf` asks for a 24g
driver heap. The benchmark keeps every engine setting from `engine_conf`
and overrides only the three that depend on the host: the master
(`local[nproc]`), the shuffle partitions (nproc) and the driver heap (an
eighth of host RAM, 1-2 GiB). Every file Spark writes (scratch, warehouse,
event log) goes under the run's work directory.
"""

from __future__ import annotations

import bisect
import os
import subprocess
import threading
import time

from pyspark.sql import SparkSession

from warctools_spark.session import engine_conf


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of host RAM, clamped to 1-2 GiB: enough heap for the
    benchmark's inputs, leaving the rest to the Python workers and to
    other tenants of the host."""
    return max(1024, min(2048, host_ram_bytes() // 8 // (1 << 20)))


def build_session(work: str, event_log_dir: str | None = None) -> SparkSession:
    cpus = host_cpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    builder = engine_conf(
        SparkSession.builder.appName("perfbench").master(f"local[{cpus}]"),
        shuffle_partitions=cpus,
    )
    builder = (
        builder.config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.eventLog.enabled", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """{pid: (parent pid, CPU seconds of the process and its reaped
    children)} for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; utime, stime, cutime, cstime are fields 11-14
        cpu = sum(int(v) for v in fields[11:15]) / _TICK
        table[int(name)] = (int(fields[1]), cpu)
    return table


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the Python workers are forked from one daemon) split
    among them, so a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, PSS bytes) of `root` and all its descendants (the
    JVM and the Python workers are children of the benchmark process)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    cpu, pss, todo = 0.0, 0, [root]
    while todo:
        pid = todo.pop()
        cpu += table.get(pid, (0, 0.0))[1]
        pss += _pss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return cpu, pss


class UsageSampler:
    """One thread that samples the process tree every `period` s: keeps
    the peak PSS and a (time, CPU seconds) series, so the CPU used
    between any two moments of the run can be read off afterwards."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_pss = 0
        self.cpu: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            t = time.time()
            cpu, pss = tree_usage(me)
            self.cpu.append((t, cpu))
            self.peak_pss = max(self.peak_pss, pss)
            self._stop.wait(self.period)

    def cpu_at(self, t: float) -> float:
        """CPU seconds used by `t`, interpolated between samples."""
        series = self.cpu
        i = bisect.bisect_left(series, (t,))
        if i == 0:
            return series[0][1]
        if i == len(series):
            return series[-1][1]
        (t0, c0), (t1, c1) = series[i - 1], series[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)

    def __enter__(self) -> "UsageSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
