"""Wall time and driver-JVM CPU per thread family of the nightly job.

    python tools/jvm_cpu.py <extract_dir> [warm_runs] [java_options]

In a fresh ``get_spark`` JVM on every core (as ``perfbench`` starts it)
runs a small warm-up job, then one cold and ``warm_runs`` (default 2)
warm ``perfbench.workloads.build_and_load``. Per run it prints wall time
and JVM CPU seconds per thread family from ``/proc/<jvm>/task/*/{comm,
stat}``: C2 and C1 compilers, executor tasks, GC, py4j (the driver's
Python-side calls) and other (the JVM total less those, so threads that
exited mid-run land there). ``java_options`` replaces the session's
``spark.driver.extraJavaOptions`` (``""`` restores tiered C2). Reads
only: nothing in the program is patched.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILIES = (  # (name, thread-name prefixes as /proc truncates them)
    ("c2", ("C2 CompilerThre",)),
    ("c1", ("C1 CompilerThre",)),
    ("tasks", ("Executor task l",)),
    ("gc", ("GC Thread", "G1 ")),
    ("py4j", ("Thread-",)),
)
TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(stat: str) -> float:
    fields = stat.rsplit(")", 1)[1].split()  # the name may hold spaces
    return (int(fields[11]) + int(fields[12])) / TICK  # utime + stime


def snapshot(pid: int) -> tuple[float, dict[int, tuple[str, float]]]:
    """(JVM total CPU s, {tid: (family, CPU s)} over live threads)."""
    threads = {}
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            comm = (task / "comm").read_text()
            cpu = _cpu_s((task / "stat").read_text())
        except OSError:  # the thread exited
            continue
        fam = next((f for f, pre in FAMILIES if comm.startswith(pre)), None)
        threads[int(task.name)] = (fam, cpu)
    return _cpu_s(Path(f"/proc/{pid}/stat").read_text()), threads


def main() -> None:
    sf_dir = Path(sys.argv[1])
    warm = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    extra = {"spark.driver.extraJavaOptions": sys.argv[3]} if len(sys.argv) > 3 else {}

    from dw_etl_spark.session import get_spark
    from perfbench.workloads import build_and_load

    n = len(os.sched_getaffinity(0))
    spark = get_spark("jvm_cpu", f"local[{n}]", n, extra)
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    spark.range(1000).count()
    work = Path(tempfile.mkdtemp(prefix="jvm_cpu_"))
    print("run    wall_s  jvm_cpu_s  " + "  ".join(f"{f:>6}" for f, _ in FAMILIES) + "   other")
    try:
        for i in range(1 + warm):
            t0, (cpu0, th0) = time.perf_counter(), snapshot(pid)
            build_and_load(spark, sf_dir, work / f"wh{i}")
            wall, (cpu1, th1) = time.perf_counter() - t0, snapshot(pid)
            d = dict.fromkeys([f for f, _ in FAMILIES], 0.0)
            for tid, (fam, cpu) in th1.items():
                if fam is not None:
                    d[fam] += cpu - th0.get(tid, (fam, 0.0))[1]
            cells = "  ".join(f"{v:6.1f}" for v in d.values())
            label, cpu = "cold" if i == 0 else f"warm{i}", cpu1 - cpu0
            print(f"{label:<5} {wall:7.2f}  {cpu:9.1f}  {cells}  {cpu - sum(d.values()):6.1f}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
