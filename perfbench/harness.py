"""Session lifetime, counters and the shared per-run result record.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout: Spark's local dirs, the JVM's temp dir, generated inputs,
checkpoints and traces.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_THREADS = 4       # the box the benchmark is sized for
DRIVER_MEMORY = "3g"  # local mode: driver JVM == executor
YOUNG_GEN = "768m"


def threads() -> int:
    """Spark threads: at most the CPUs this process may run on."""
    return max(1, min(MAX_THREADS, len(os.sched_getaffinity(0))))


def prepare_env() -> None:
    """Make the package importable here and in Spark's Python workers,
    and keep temp files inside the checkout. Call before importing
    pyspark."""
    if not os.path.isdir(os.path.join(ROOT, "pagerank_service_spark")):
        raise SystemExit(f"pagerank_service_spark not found under {ROOT}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def start_session(n_threads: int):
    """-> (spark, CPU seconds spent starting it)."""
    from pagerank_service_spark.session import get_session

    c0 = tree_cpu_s()
    spark = get_session(
        app_name="perfbench",
        master=f"local[{n_threads}]",
        shuffle_partitions=2 * n_threads,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # fixed heap and young-generation sizes: without them the
            # collector's adaptive sizing makes the JVM's peak RSS
            # wander by a quarter from run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} "
                "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # keep every job and stage of a run readable by the tracer
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, tree_cpu_s() - c0


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water resident set (VmHWM), in MB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant -- the driver JVM with all its threads and Spark's Python
    workers -- including descendants already exited and reaped.

    Unlike wall time this leaves out time the machine gave to other
    tenants (CPU steal, run-queue waits), so it holds still on a shared
    host where wall time of the same work moves by a quarter."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited during the scan
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        rest = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(rest[1])
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU steal so far, in seconds per CPU: time the hypervisor ran
    other tenants while this machine's CPUs had work (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()


class PassClock:
    """Times one pass three ways: wall seconds, CPU seconds of the
    process tree (``tree_cpu_s``), and wall seconds less the CPU steal
    over the pass (``steal_s``). The last still counts waiting, barriers
    and serial stretches, which CPU seconds miss, but not the time the
    host gave to other tenants."""

    def __enter__(self):
        self._t, self._c, self._st = time.perf_counter(), tree_cpu_s(), steal_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        self.cpu = tree_cpu_s() - self._c
        self.unstolen = self.wall - (steal_s() - self._st)


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    proc.wait(timeout=60)


@dataclass
class Outcome:
    """What one workload run measured. ``wall_s``, ``cpu_s`` and
    ``unstolen_s`` have one entry per timed pass (``PassClock``),
    ``op_s`` one per PageRank iteration."""
    setup_s: float
    passes: list[PassClock]
    op_s: list[float]
    peak_rss_mb: float
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    after_stop: object = None  # callable run once Spark has stopped

    @property
    def wall_s(self) -> list[float]:
        return [p.wall for p in self.passes]

    @property
    def cpu_s(self) -> list[float]:
        return [p.cpu for p in self.passes]

    @property
    def unstolen_s(self) -> list[float]:
        return [p.unstolen for p in self.passes]

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {name}", file=sys.stderr)
