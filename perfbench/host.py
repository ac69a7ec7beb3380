"""Host-sized Spark bootstrap, host-load sampling and the steal-adjusted
clock of the benchmark.

The heap is sized from ``MemTotal`` (a quarter of it, capped at 2 GiB) and
committed and pre-touched at JVM start (``-Xms`` = ``-Xmx``,
``AlwaysPreTouch``), so heap growth never faults fresh pages inside a timed
pass; on the reference VM that cut the spread of warm pass times between
processes.  The core count comes from the CPUs this process may use (capped
at 4), and every scratch path Spark and Python write to is pointed inside
the run's work directory.  The JVM and its Python workers are stopped and
waited for in :func:`stop_session`.

On a shared virtual machine the hypervisor can withhold CPU time the guest
asked for ("steal", the eighth field of /proc/stat).  The timed metrics are
measured with :func:`unstolen_s`, which scales wall time by the share of
wanted CPU time that was not stolen, so a burst of load on the physical
host does not read as a regression; the raw wall times are reported beside
them.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

MAX_CORES = 4
MAX_HEAP_MB = 2048


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def heap_mb() -> int:
    return max(1024, min(MAX_HEAP_MB, mem_total_mb() // 4))


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks: user nice
    system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


Mark = tuple[float, list[int]]


def mark() -> Mark:
    """A starting point for :func:`steal_share` and :func:`unstolen_s`."""
    return time.perf_counter(), _cpu_times()


def steal_share(since: Mark) -> float:
    """Share of the CPU time this machine wanted since ``since`` that the
    hypervisor stole: steal ÷ (busy + steal) ticks over all CPUs.  Idle time
    is not wanted, so waiting on I/O or a timer adds nothing."""
    d = [b - a for a, b in zip(since[1], _cpu_times())]
    busy, steal = d[0] + d[1] + d[2] + d[5] + d[6], d[7]
    return steal / (busy + steal) if busy + steal else 0.0


def unstolen_s(since: Mark) -> float:
    """Wall seconds since ``since`` less the share the hypervisor stole: the
    time the interval would have taken had this machine had its CPUs to
    itself.  Equal to the wall time on a host that steals nothing."""
    wall = time.perf_counter() - since[0]
    return wall * (1.0 - steal_share(since))


class LoadSampler:
    """Samples the 1-minute load average once a second on a daemon thread,
    and the CPU steal share over the whole window."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.samples: list[float] = []
        self.steal_share = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="load-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(os.getloadavg()[0])
            self._stop.wait(self.period_s)

    def __enter__(self) -> "LoadSampler":
        self._mark = mark()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.steal_share = steal_share(self._mark)

    def mean(self) -> float:
        return sum(self.samples) / len(self.samples) if self.samples else os.getloadavg()[0]


def start_session(work_dir: str, cores: int, heap: int):
    """A ``local[cores]`` session whose scratch files stay under ``work_dir``."""
    from kafka_connect_morphlines_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the py4j gateway, wait for the JVM to exit and for
    the Python workers it started (``pyspark.daemon``) to end with it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10.0
    while any(_alive(w) for w in workers):
        if time.monotonic() > deadline:
            for w in filter(_alive, workers):
                os.kill(w, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)
