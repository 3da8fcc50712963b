"""Host sizing and process-wide counters, read from outside the package:
``/proc`` for CPU and resident memory, the JVM's management beans and
Spark's ``CodegenMetrics`` over py4j."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
# A 2 GiB heap holds every workload's inputs many times over; the cap
# keeps the benchmark a polite neighbour on a shared host.
HEAP_CAP_MIB = 2048


# process-wide counters every workload reports (per-layer, deltas over
# the timed phases)
COUNTERS = (
    "jvm.gc_ms",
    "jvm.jit_ms",
    "spark.codegen_compile_ms",
    "spark.codegen_classes",
    "cpu.jvm_s",
    "cpu.pyworker_s",
    "cpu.driver_s",
)


def mem_total_mib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def sizing() -> dict:
    """One rule for the benchmark's Spark process: driver heap at most
    60% of MemTotal (capped), ``local[n]`` from the CPUs this process
    may run on, one generator thread and at most two HTTP clients."""
    cores = len(os.sched_getaffinity(0))
    total = mem_total_mib()
    return {
        "mem_total_mib": total,
        "driver_heap_mib": min(int(total * 0.6), HEAP_CAP_MIB),
        "local_cores": cores,
        "shuffle_partitions": cores,
        "generator_threads": 1,
        "http_clients": 2,
    }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    return [raw[: raw.rindex(")") + 1]] + raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            seen.append(c)
            todo.append(c)
    return seen


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _hwm_mib(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_s(pid: int, with_children: bool) -> float:
    f = _stat(pid)
    if f is None:
        return 0.0
    # after the comm chunk: f[1]=state ... utime=f[12], stime=f[13],
    # cutime=f[14], cstime=f[15]
    ticks = int(f[12]) + int(f[13])
    if with_children:
        ticks += int(f[14]) + int(f[15])
    return ticks / CLK_TCK


class Probe:
    """Reads the process-wide counters of this driver, its JVM and the
    JVM's Python workers."""

    def __init__(self, spark) -> None:
        from pyspark import SparkContext

        self.jvm = spark.sparkContext._jvm
        gw = SparkContext._gateway
        root = gw.proc.pid if getattr(gw, "proc", None) is not None else os.getpid()
        cands = [root] + _descendants(root)
        javas = [p for p in cands if _comm(p) == "java"]
        self.jvm_pid = javas[0] if javas else root

    def workers(self) -> list[int]:
        return [p for p in _descendants(self.jvm_pid) if _comm(p).startswith("python")]

    def read(self) -> dict:
        mf = self.jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
        # compile time is a sampled histogram: count × mean is its total
        # to within the reservoir's sampling
        cg = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        hist = cg.METRIC_COMPILATION_TIME()
        n_compiles = int(hist.getCount())
        compile_ms = float(hist.getSnapshot().getMean()) * n_compiles
        workers = self.workers()
        t = os.times()
        return {
            "jvm.gc_ms": float(gc_ms),
            "jvm.jit_ms": float(jit_ms),
            "spark.codegen_compile_ms": compile_ms,
            "spark.codegen_classes": float(n_compiles),
            "cpu.jvm_s": _cpu_s(self.jvm_pid, with_children=False),
            "cpu.pyworker_s": sum(_cpu_s(p, with_children=True) for p in workers),
            "cpu.driver_s": t.user + t.system,
        }

    def peak_rss_mib(self) -> float:
        """Peak resident memory of the JVM plus its Python workers."""
        return _hwm_mib(self.jvm_pid) + sum(_hwm_mib(p) for p in self.workers())


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}
