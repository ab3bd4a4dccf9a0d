"""Pipeline benchmark for pydi_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload er_two_source --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run:

1. generates the workload's inputs from ``--seed`` as parquet files, in
   a child process (timed, reported on stderr, not a metric);
2. sets up (imports plus SparkSession start); untraced, while
   ``SETUP_SAMPLES - 1`` child processes set up beside it, each once, as
   further samples;
3. runs the pipeline once cold, then warm while ``--seconds`` lasts (at
   least ``MIN_WARM_RUNS`` times), and checks every run's outputs;
4. prints every metric by name with its unit, and as the last line of
   stdout one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

Every end-to-end time is CPU time, not wall time: the CPU seconds used by
this process, its JVM and Spark's Python workers, less the JVM's JIT
compiler threads (see ``tree_cpu``). Wall times are printed beside them.

``--trace 0`` reports the end-to-end metrics from untraced runs.
``--trace 1`` alternates untraced and traced warm runs and reports the
per-layer metrics of the traced ones, plus ``trace.overhead_s``; the
spans go to ``.perfbench_out/<workload>-seed<seed>-spans.json``.

Everything the run writes stays inside the checkout: inputs, Spark's
local and temp directories and outputs live under ``.perfbench_work/``
and are removed at the end.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import spans  # noqa: E402

# set-ups measured per run: this process's own and one in each of
# SETUP_SAMPLES - 1 child processes started at the same moment
SETUP_SAMPLES = 2
# untraced warm runs made even past --seconds: the first warm run still
# pays for warm-up (Python workers, code the JIT has not compiled yet)
# and one run alone is noisy
MIN_WARM_RUNS = 2
# beyond those, start no warm run that would end past this many seconds
# since the start: 4 + 22 x (workloads) runs must fit in 3420 s
RUN_BUDGET_S = 65.0
QUALITY_FLOOR = 0.7
EXPECTED_PATH = os.path.join(HERE, "expected.json")

END_TO_END = {
    "pipeline_cpu_s": "s",
    "cold_pipeline_cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "quality": "ratio",
}
QUALITY_NAME = {
    "er_two_source": "match_f1",
    "corpus_near_dup": "bcubed_f1",
}
STAT_UNITS = {
    "self_s": "s", "driver_s": "s", "jobs": "count", "executor_s": "s",
    "shuffle_write_mb": "MiB", "spill_mb": "MiB", "task_skew": "ratio",
    "rows_out": "rows",
}
COUNTER_UNITS = {
    "blocking.candidates": "count",
    "blocking.pair_completeness": "ratio",
    "blocking.pair_quality": "ratio",
    "blocking.reduction_ratio": "ratio",
    "matching.match_ratio": "ratio",
    "llmdata.pairs_out": "count",
    "clustering.clusters": "count",
    "clustering.max_cluster": "count",
    "fusion.groups": "count",
}
PER_LAYER = {
    **{f"{layer}.{stat}": unit for layer in spans.LAYERS for stat, unit in STAT_UNITS.items()},
    **COUNTER_UNITS,
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(QUALITY_NAME), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply input sizes (recorded outputs hold at 1.0 only)")
    ap.add_argument("--record", action="store_true",
                    help="store this seed's outputs in expected.json")
    ap.add_argument("--setup-sample", metavar="DIR",
                    help="only set up once with DIR as work directory, print the CPU it took")
    return ap.parse_args(argv)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def generate_inputs(args, out_dir: str):
    """Run the generator in a child process; its imports and arrays stay there."""
    done = subprocess.run(
        [sys.executable, os.path.join(HERE, "generate.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--scale", str(args.scale), "--out", out_dir],
        stdout=subprocess.PIPE, text=True, timeout=120, check=True,
    )
    return SimpleNamespace(**json.loads(done.stdout.strip().splitlines()[-1]))


# ------------------------------------------------------------------ spark


def start_spark(work: str):
    """Imports plus SparkSession start: what ``setup_s`` measures."""
    import workloads  # noqa: F401  (imports pyspark and every pydi_spark layer)
    from pydi_spark import get_spark

    n = cores()
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            # a bounded heap: under get_spark's 8g default the heap grows
            # lazily and peak RSS follows GC timing, not the pipeline
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": " ".join([
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                # G1 sizes its heap by pause times and runs concurrent
                # cycles when it likes, so its RSS and GC CPU follow the
                # host's load; the serial collector sizes by occupancy
                "-XX:+UseSerialGC",
                # compiler threads that live as long as the JVM, so that
                # tree_cpu can tell their CPU time apart
                "-XX:-UseDynamicNumberOfCompilerThreads",
            ]),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus its JVM child (VmHWM each)."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


CLK_TCK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names as /proc cuts them


class Cpu(NamedTuple):
    work: float  # CPU seconds less the JIT compiler threads'
    jit: float   # CPU seconds of the JIT compiler threads

    def __sub__(self, other: Cpu) -> Cpu:
        return Cpu(self.work - other.work, self.jit - other.jit)


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 1:].split()


def tree_cpu(skip: frozenset[int] = frozenset()) -> Cpu:
    """CPU time (user + system) used so far by this process and its
    descendants, except the subtrees rooted at ``skip``: live processes
    from /proc, reaped ones through cutime/cstime. Time the host steals
    from this machine's CPUs is in none of it, and waiting for a CPU
    costs none, so a busy host moves it far less than wall time.

    The JIT compiler threads are counted apart: their work is the JVM
    warming up, and how much of it falls into one pipeline run depends
    on timing, not on the pipeline."""
    ppid, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            _, fields = _stat_fields(f"/proc/{entry}/stat")
        except OSError:  # the process ended while we listed
            continue
        ppid[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    total = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        jit += _jit_ticks(pid)
        todo += [c for c in children.get(pid, []) if c not in skip]
    return Cpu((total - jit) / CLK_TCK, jit / CLK_TCK)


def _jit_ticks(pid: int) -> int:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    n = 0
    for tid in tids:
        try:
            name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if name.startswith(JIT_THREADS):
            n += int(fields[11]) + int(fields[12])
    return n


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def set_work_dirs(work: str) -> None:
    for sub in ("tmp", "spark-local", "inputs", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


# ---------------------------------------------------------------- set-up


def setup_sample(work: str) -> int:
    """One set-up in this (child) process; prints its CPU seconds."""
    set_work_dirs(work)
    c0 = tree_cpu()
    spark = start_spark(work)
    cpu = tree_cpu() - c0
    stop_spark(spark)
    print(json.dumps(cpu.work))
    return 0


def start_setup_samplers(args, work: str) -> list[subprocess.Popen]:
    return [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--setup-sample", os.path.join(work, f"setup{i}")],
            stdout=subprocess.PIPE, text=True,
        )
        for i in range(SETUP_SAMPLES - 1)
    ]


def join_setup_samplers(samplers: list[subprocess.Popen]) -> list[float]:
    values = []
    for p in samplers:
        out, _ = p.communicate(timeout=120)
        if p.returncode != 0:
            raise RuntimeError(f"set-up sample exited with {p.returncode}")
        values.append(float(out.strip().splitlines()[-1]))
    return values


def end_processes(procs: list[subprocess.Popen]) -> None:
    for p in procs:
        if p.poll() is None:
            p.kill()  # its JVM exits when its stdin closes
        p.wait()


# ------------------------------------------------------------- checking


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def invariant_failures(workload: str, gen, res) -> list[str]:
    """Checks that hold for any seed, from what the generator knows."""
    c, bad = res.checks, []
    if not (res.quality is not None and res.quality >= QUALITY_FLOOR):
        bad.append(f"evaluation: quality {res.quality} below {QUALITY_FLOOR}")
    if workload == "er_two_source":
        n = gen.properties["records_per_source"]
        if c["fusion.groups"] != 2 * n - c["clustering.matches"]:
            bad.append("fusion: groups != records - 1:1 matches")
    else:
        if c["evaluation.records"] != gen.input_records:
            bad.append("evaluation: B-cubed did not cover every document")
        if not 0 < c["io.rows_written"] < gen.input_records:
            bad.append("io: deduplicated corpus size out of range")
    return bad


def diff_failures(res, ref: dict, label: str) -> list[str]:
    bad = [
        f"{k.split('.')[0]}: {k}={v} differs from {label} {ref['checks'].get(k)}"
        for k, v in res.checks.items() if ref["checks"].get(k) != v
    ]
    if abs(res.quality - ref["quality"]) > 1e-9:
        bad.append(f"evaluation: quality {res.quality} differs from {label} {ref['quality']}")
    return bad


# ---------------------------------------------------------------- runs


class Runner:
    def __init__(self, spark, workload: str, gen, work: str):
        import workloads

        self.spark = spark
        self.workload = workload
        self.pipeline = workloads.PIPELINES[workload]
        self.gen = gen
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.spans: list[spans.Span] = []
        self.layer_runs: list[dict] = []
        self.counters: list[dict] = []
        self.store = None
        self.runs = 0

    def run(self, traced: bool, reference: dict | None):
        """One pipeline run: (wall seconds, Cpu, result), or None if it raised."""
        self.runs += 1
        if traced and self.store is None:
            self.store = spans.StatusStore(self.spark)
        rec = spans.Recorder(self.spark, self.workload, f"run{self.runs}", traced, self.store)
        out_dir = os.path.join(self.work, "out", f"run{self.runs}")
        c0, t0 = tree_cpu(), time.perf_counter()
        try:
            with rec.span("pipeline", self.workload):
                res = self.pipeline(self.spark, rec, self.gen, out_dir)
            wall, cpu = time.perf_counter() - t0, tree_cpu() - c0
        except Exception:  # a layer raised: count it, report, keep measuring
            self.attempted += rec.calls
            self.failed += max(rec.failed, 1)
            print(traceback.format_exc(), file=sys.stderr)
            return None
        print(f"run{self.runs}{' traced' if traced else ''}: wall {wall:.3f} s, "
              f"CPU {cpu.work:.2f} s (+ JIT {cpu.jit:.2f} s)", file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)
        bad = invariant_failures(self.workload, self.gen, res)
        if reference is not None:
            bad += diff_failures(res, reference["value"], reference["label"])
        for msg in bad:
            print(f"output check failed: {msg}", file=sys.stderr)
        self.attempted += rec.calls
        self.failed += rec.failed + len(bad)
        if traced:
            self.spans += rec.spans
            self.layer_runs.append(spans.layer_metrics(rec.spans))
            self.counters.append(res.counters)
        return wall, cpu, res


def measured_enough(warm: list, traced: list, args, window_s: float, total_s: float) -> bool:
    """Stop the warm loop once ``--seconds`` is used up, or would be by
    one more run as long as the longest of the last ones. Untraced, make
    at least ``MIN_WARM_RUNS`` runs; traced, at least one of each kind
    (the untraced one is only the reference for ``trace.overhead_s``).
    Beyond those, start no run that would end past ``RUN_BUDGET_S``.
    ``warm`` and ``traced`` hold wall seconds."""
    if not warm or (args.trace and not traced):
        return False
    if not args.trace and len(warm) < MIN_WARM_RUNS:
        return False
    next_run = max(warm[-1], traced[-1] if traced else 0.0)
    return total_s + next_run > RUN_BUDGET_S or window_s + next_run > args.seconds


def result_dict(res) -> dict:
    return {"checks": res.checks, "quality": res.quality}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.setup_sample:
        return setup_sample(args.setup_sample)
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    set_work_dirs(work)
    spark, samplers = None, []
    try:
        t0 = time.perf_counter()
        gen = generate_inputs(args, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0
        print(f"inputs: {gen.input_records} records in {gen_s:.2f} s; "
              f"{json.dumps(gen.properties)}", file=sys.stderr)

        # set-up is a metric of untraced runs only
        samplers = [] if args.trace else start_setup_samplers(args, work)
        skip = frozenset(p.pid for p in samplers)
        c0, t0 = tree_cpu(skip), time.perf_counter()
        spark = start_spark(work)
        setup_wall = time.perf_counter() - t0
        setup = [(tree_cpu(skip) - c0).work] + join_setup_samplers(samplers)

        runner = Runner(spark, args.workload, gen, work)
        steal0 = cpu_steal()
        expected = load_expected().get(args.workload, {}).get(str(args.seed))
        ref = None
        if expected is not None and args.scale == 1.0:
            ref = {"value": expected, "label": "expected.json"}
        cold = runner.run(traced=False, reference=ref)
        if cold is None:
            return 1
        cold_res = cold[2]
        if args.record and args.scale == 1.0:
            record_expected(args.workload, args.seed, result_dict(cold_res))
        ref = {"value": result_dict(cold_res), "label": "cold run"}

        warm, traced_runs = [], []
        t_warm = time.perf_counter()
        for n_done in itertools.count():
            traced = bool(args.trace) and n_done % 2 == 1
            if measured_enough([r[0] for r in warm], [r[0] for r in traced_runs], args,
                               time.perf_counter() - t_warm, time.perf_counter() - t_start):
                break
            done = runner.run(traced=traced, reference=ref)
            if done is None:
                break
            (traced_runs if traced else warm).append(done)
        if not warm or (args.trace and not traced_runs):
            return 1
        rss = peak_rss_mb(spark)
        steal = [b - a for a, b in zip(steal0, cpu_steal())]
    finally:
        end_processes(samplers)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    warm_wall = statistics.median(r[0] for r in warm)
    if args.trace:
        metrics = per_layer_metrics(runner, warm_wall,
                                    statistics.median(r[0] for r in traced_runs))
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        spans.write_sidecar(
            os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"),
            runner.spans,
            {"workload": args.workload, "seed": args.seed,
             "untraced_walls": [r[0] for r in warm],
             "traced_walls": [r[0] for r in traced_runs]},
        )
        units = PER_LAYER
    else:
        metrics = {
            "pipeline_cpu_s": statistics.median(r[1].work for r in warm),
            "cold_pipeline_cpu_s": cold[1].work,
            "setup_s": statistics.median(setup),
            "peak_rss_mb": rss,
            "quality": cold_res.quality,
        }
        units = END_TO_END
    print(f"workload {args.workload} seed {args.seed}: {len(warm)} warm runs, "
          f"{len(traced_runs)} traced; inputs generated in {gen_s:.2f} s "
          f"(not in setup_s); host CPU steal during the runs "
          f"{100.0 * steal[0] / max(steal[1], 1):.1f}%; quality = {QUALITY_NAME[args.workload]}")
    print(f"wall (not metrics): set-up {setup_wall:.3f} s beside {len(samplers)} more, "
          f"cold {cold[0]:.3f} s, warm median {warm_wall:.3f} s; "
          f"set-up CPU samples {', '.join(f'{s:.2f}' for s in setup)} s")
    for name, unit in units.items():
        print(f"  {name:36s} {metrics[name]:14.6g} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def per_layer_metrics(runner: Runner, untraced_s: float, traced_s: float) -> dict:
    layers = spans.median_layer_metrics(runner.layer_runs)
    out = {}
    for layer in spans.LAYERS:
        for stat in STAT_UNITS:
            # a layer the workload never calls did no work: 0
            out[f"{layer}.{stat}"] = layers.get(layer, {}).get(stat, 0.0)
    for name in COUNTER_UNITS:
        values = [c[name] for c in runner.counters if c.get(name) is not None]
        out[name] = statistics.median(values) if values else 0.0
    out["trace.overhead_s"] = traced_s - untraced_s
    return out


def record_expected(workload: str, seed: int, value: dict) -> None:
    data = load_expected()
    data.setdefault(workload, {})[str(seed)] = value
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
