"""Time bcubed_metrics' driver and distributed branches on synthetic
cluster assignments, to place the row cap between them.

    python3 tools/bcubed_crossover.py ROWS_PER_SIDE [driver|distributed|auto] [CALLS]

Both assignments are built with ``spark.range`` (no input files):
record ``i`` is in predicted cluster ``i div 8`` and in gold cluster
``((i * 7919) mod n) div 6``, so the two clusterings cross. ``driver``
and ``distributed`` force a branch by setting
``core.plansize.BCUBED_DRIVER_ROW_CAP``; ``auto`` leaves the code as it
is (for a tree without that cap). Run one branch and size per process:
peak RSS is a high-water mark. Prints one JSON line: per-call wall and
CPU seconds (this Python process plus the local JVM), the Python
driver's peak RSS before and after the calls, and the JVM's.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pydi_spark import get_spark  # noqa: E402
from pydi_spark.core import plansize  # noqa: E402
from pydi_spark.evaluation import bcubed_metrics  # noqa: E402


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _jvm_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _py_peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def main() -> None:
    n = int(sys.argv[1])
    branch = sys.argv[2] if len(sys.argv) > 2 else "auto"
    calls = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    if branch == "driver":
        plansize.BCUBED_DRIVER_ROW_CAP = 2 * n
    elif branch == "distributed":
        plansize.BCUBED_DRIVER_ROW_CAP = -1
    spark = get_spark("bcubed_crossover")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    ids = spark.range(n)
    pred = ids.select(
        F.col("id").cast("string").alias("record_id"),
        F.concat(F.lit("p"), (F.col("id") / 8).cast("long")).alias("cluster_id"),
    )
    gold = ids.select(
        F.col("id").cast("string").alias("record_id"),
        F.concat(F.lit("g"), ((F.col("id") * 7919) % n / 6).cast("long"))
        .alias("cluster_id"),
    )
    py_before = _py_peak_mb()
    wall, cpu, row = [], [], None
    for _ in range(calls):
        c0 = time.process_time() + _jvm_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        row = bcubed_metrics(pred, gold).collect()[0]
        wall.append(round(time.perf_counter() - t0, 3))
        cpu.append(round(time.process_time() + _jvm_cpu_s(jvm_pid) - c0, 3))
    print(json.dumps({
        "rows_per_side": n, "branch": branch,
        "cores": spark.sparkContext.defaultParallelism,
        "wall_s": wall, "cpu_s": cpu,
        "py_peak_mb_before": round(py_before, 1),
        "py_peak_mb": round(_py_peak_mb(), 1),
        "jvm_peak_mb": round(_jvm_peak_mb(jvm_pid), 1),
        "row": row.asDict(),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
