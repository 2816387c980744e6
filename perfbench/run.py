"""Benchmark of the validation engine on the north-star suite.

Run from the repository root::

    python3 perfbench/run.py                       # every workload of BENCHMARK.json
    python3 perfbench/run.py --workload segmented_role --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py``): ``segmented_role``
(``validate_by_group`` by role on a bucketed table) and
``checkpoint_partitions`` (``Checkpoint.run`` over a directory-partitioned
table, then its resume and the merge view) are the ones BENCHMARK.json
gates; ``suite_whole`` (``SuiteRunner.validate`` on the bucketed table) runs
on request.

One run of one workload, in one process with one client thread:

1. boot: start the JVM, generate or reuse the cached input for the seed,
   and compute the oracle from the input's files (timed apart from set-up);
2. set-up: restart the Spark session and register the input, three times,
   then run the workload's discarded warm-up operations;
   ``setup_s`` is the median restart-and-register CPU time plus the
   warm-up's (``setup_wall_s`` the same in wall time);
3. measure: a closed loop of operations for ``--seconds`` (two at least);
   every operation's output is checked, and a failed check counts the
   operation as failed.

``--trace 0`` reports the end-to-end metrics. The figures BENCHMARK.json
gates, ``rows_per_cpu_s``, ``op_cpu_s_p50`` and ``setup_s``, are CPU time:
that of this process and its JVM during an operation or the set-up, JIT
compiler threads left out (see ``engine_cpu_s``). On a shared 4-vCPU host
whose other tenants took 10-20% of the CPU time (steal), an operation's wall
time grew by 35-115% and its CPU time by up to a third. The wall-time figures
``rows_per_s``, ``op_s_p50`` and ``setup_wall_s`` are printed and recorded
beside them, with ``cpu_steal_frac``, the share of CPU time the host gave to
other machines during the run.

``--trace 1`` alternates
untraced and traced operations (untraced first and last) and reports the
per-layer metrics of the traced ones (spans around the engine's public calls
plus the Spark jobs read from the driver's status store) and
``bench.trace_overhead_frac``. End-to-end numbers never come from a traced
run. Beside its metrics an untraced run prints ``ops_failed_frac``, the
sample count and, for ``checkpoint_partitions``, ``resume_s_p50``,
``merge_s_p50`` and ``store_bytes_per_row``; BENCHMARK.json does not gate
these, as each of its end-to-end metrics must be non-zero on every workload.

Each run appends a self-describing record (host fingerprint, seed, input
size, load average, every sample) to ``perfbench/results/runs.jsonl``;
traced runs also write their spans to ``perfbench/results/spans-<workload>.json``.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

STARTED = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
BASELINE_COUNTS = os.path.join(BENCH_DIR, "baseline_counts.json")
SETUPS = 3
#: measured operations per run even when one outlasts ``--seconds``, so that
#: every run's median is taken over the same number of samples at least
MIN_OPS = 2
#: a small heap is filled in every run, so the peak RSS repeats
DRIVER_MEMORY = "1g"
#: a traced run takes at least this many traced operations ...
MIN_TRACED = 3
#: ... but starts none that could end it (with the untraced operation after
#: it) later than this many seconds after the process started
TRACED_RUN_LIMIT_S = 150.0


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", help="one workload; default: every workload in turn")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine_scratch_files() -> None:
    """Keep Spark's, the JVM's and py4j's scratch files inside the benchmark's cache."""
    tmp = os.path.join(CACHE_DIR, "tmp")
    local = os.path.join(CACHE_DIR, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session():
    from great_expectations_spark.skew import build_session

    cores = nproc()
    spark = build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed set of JIT compiler threads, whose CPU time engine_cpu_s
            # leaves out, rather than threads that come and go with the load
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(CACHE_DIR, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return gateway.proc if gateway is not None else None


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM child, and wait until it has exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _proc_status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def reset_peak_rss(pids: list[int | str]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # peak then covers the whole process lifetime


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: steal is time the host ran others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _stat_ticks(path: str) -> tuple[str, int]:
    """(command name, user plus system clock ticks) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    fields = text.rsplit(")", 1)[1].split()
    return text[text.index("(") + 1:text.rindex(")")], int(fields[11]) + int(fields[12])


def engine_cpu_s(pids: list[int | str], jvm_pid: int) -> float:
    """CPU time of the processes (every thread, exited ones included), less
    the JVM's JIT compiler threads.

    Time the host gives to other machines (steal) is charged to no process,
    so unlike wall time this does not grow when the host is busy. JIT
    compilation goes on in the background for dozens of operations after the
    warm-up and swings by a second per operation, so it is left out; the
    compiler threads live as long as the JVM (see ``start_session``)."""
    ticks = sum(_stat_ticks(f"/proc/{pid}/stat")[1] for pid in pids)
    for path in glob.glob(f"/proc/{jvm_pid}/task/*/stat"):
        try:
            name, t = _stat_ticks(path)
        except OSError:
            continue  # a thread that exited meanwhile
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks -= t
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int | str]) -> float:
    return sum(_proc_status_kb(pid, "VmHWM") for pid in pids) / 1024.0


def other_spark_jvms(own_pid: int | None) -> int:
    n = 0
    for path in glob.glob("/proc/[0-9]*/cmdline"):
        pid = int(path.split("/")[2])
        try:
            with open(path, "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd and b"java" in cmd and pid != own_pid:
            n += 1
    return n


def host_fingerprint(spark) -> dict:
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "great_expectations_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as f:
            digest.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    return {
        "nproc": nproc(),
        "python": sys.version.split()[0],
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "git_rev": rev,
        "engine_source_sha256": digest.hexdigest()[:16],
    }


def baseline_drift(workload: str, layers: dict[str, float]) -> dict[str, list[float]]:
    """Exact-repeat counts that differ from the recorded seed-code values."""
    from perfbench.trace import EXACT_COUNTS

    with open(BASELINE_COUNTS) as f:
        base = json.load(f)["counts"].get(workload, {})
    return {k: [base[k], layers[k]] for k in EXACT_COUNTS if k in base and base[k] != layers.get(k)}


def trace_overhead(sequence: list[tuple[bool, float | None]]) -> float | None:
    """Median over traced operations of traced wall / mean of the untraced
    neighbours' walls, minus 1; comparing neighbours cancels the warm-up trend."""
    ratios = []
    for i in range(1, len(sequence) - 1):
        traced, wall = sequence[i]
        before, after = sequence[i - 1][1], sequence[i + 1][1]
        if traced and None not in (wall, before, after):
            ratios.append(wall / ((before + after) / 2.0) - 1.0)
    return statistics.median(ratios) if ratios else None


def run_all(args: argparse.Namespace, spec: dict) -> int:
    """Every workload of BENCHMARK.json in turn, each in its own process (and JVM)."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for name in (w["name"] for w in spec["workloads"]):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        result = json.loads(lines[-1])
        correct &= result["correct"]
        attempted += result["attempted"]
        failed += result["failed"]
        metrics.update({f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import great_expectations_spark  # noqa: F401
        spec = benchmark_spec()
    except (ImportError, OSError) as exc:
        print(f"perfbench: cannot load the engine or BENCHMARK.json from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = float(spec["run_seconds"])
    if args.workload is None:
        return run_all(args, spec)
    confine_scratch_files()
    from perfbench import oracle
    from perfbench.inputs import TOOL_NAMES, InputCache
    from perfbench.trace import Tracer, count_drift, median_metrics
    from perfbench.workloads import WORKLOADS, make_context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    store_root = os.path.join(CACHE_DIR, "stores")
    load_start = os.getloadavg()[0]

    # boot: JVM, input cache, oracle
    t0 = time.perf_counter()
    spark = start_session()
    boot_s = time.perf_counter() - t0
    cache = InputCache(os.path.join(CACHE_DIR, "inputs"))
    ctx = make_context(workload, spark, cache, args.seed, store_root)
    t0 = time.perf_counter()
    counts = oracle.count_oracle(ctx.df.inputFiles(), TOOL_NAMES)
    expected = oracle.expected_verdicts(counts, ctx.suite_json)
    oracle_s = time.perf_counter() - t0
    host = host_fingerprint(spark)
    tracer = Tracer()

    # set-up: session restart and input registration, SETUPS times (median
    # taken), then the discarded warm-up operations, once, in the session that
    # is measured: a warm-up per restart would not fit the run's time budget
    # (the JVM outlives the sessions); ``setup_s`` is CPU time, as the
    # operations' figures are, and its wall time is recorded beside it
    jvm_pid = jvm_process().pid
    pids = ["self", jvm_pid]
    register_samples, register_cpu = [], []
    for _ in range(SETUPS):
        c0, t0 = engine_cpu_s(pids, jvm_pid), time.perf_counter()
        spark.stop()
        spark = start_session()
        ctx = make_context(workload, spark, cache, args.seed, store_root, expected)
        register_samples.append(time.perf_counter() - t0)
        register_cpu.append(engine_cpu_s(pids, jvm_pid) - c0)
    warmup_s, warmup_cpu, warmup_problems = [], [], []
    while not warmup_problems and len(warmup_s) < workload.warmup_ops:
        c0, t0 = engine_cpu_s(pids, jvm_pid), time.perf_counter()
        try:
            out = workload.op(ctx, tracer)
            warmup_s.append(time.perf_counter() - t0)
            warmup_cpu.append(engine_cpu_s(pids, jvm_pid) - c0)
            warmup_problems += workload.check(ctx, out)
            workload.release(ctx, out)
        except Exception as exc:  # noqa: BLE001 - reported as an incorrect run
            warmup_problems.append(f"warm-up: {type(exc).__name__}: {exc}"[:500])
    setup_s = statistics.median(register_cpu) + sum(warmup_cpu)
    setup_wall_s = statistics.median(register_samples) + sum(warmup_s)
    tracer.bind(spark)

    # measure: closed loop, one client
    reset_peak_rss(pids)
    cpu_start = cpu_times()
    sequence: list[tuple[bool, float | None]] = []  # (traced, wall of a passed op)
    op_cpu: list[float | None] = []  # CPU time of each passed op, None if it failed
    all_walls, phases, per_op_layers, problems = [], [], [], []
    attempted = failed = 0
    deadline = time.perf_counter() + args.seconds
    while True:
        trace_this = bool(args.trace) and attempted % 2 == 1
        if trace_this and (time.perf_counter() - STARTED + 2 * max(all_walls)
                           > TRACED_RUN_LIMIT_S):
            break
        root, out, op_problems = None, None, []
        c0 = engine_cpu_s(pids, jvm_pid)
        t0 = time.perf_counter()
        try:
            if trace_this:
                with tracer.operation() as root:
                    out = workload.op(ctx, tracer)
            else:
                out = workload.op(ctx, tracer)
            wall = time.perf_counter() - t0
            cpu = engine_cpu_s(pids, jvm_pid) - c0
            op_problems = workload.check(ctx, out)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            wall = time.perf_counter() - t0
            cpu = None
            op_problems = [f"{type(exc).__name__}: {exc}"[:500]]
        attempted += 1
        all_walls.append(wall)
        sequence.append((trace_this, None if op_problems else wall))
        op_cpu.append(None if op_problems else cpu)
        if op_problems:
            failed += 1
            problems += op_problems[:3]
        elif trace_this:
            tracer.collect_jobs(root)
            per_op_layers.append(
                tracer.layer_metrics(root, workload.rows, workload.layer_extra(ctx, out))
            )
        elif not args.trace:
            phases.append(workload.phases(ctx, out))
        if out is not None:
            workload.release(ctx, out)
        # a traced run ends on an untraced operation, the traced ones' neighbour
        if (time.perf_counter() >= deadline and not trace_this and attempted >= MIN_OPS
                and (not args.trace or len(per_op_layers) >= MIN_TRACED)):
            break
    driver_rss_mb = peak_rss_mb(pids)
    others = other_spark_jvms(jvm_pid)
    stop_jvm(spark)
    load_end = os.getloadavg()[0]
    steal, total = (end - start for end, start in zip(cpu_times(), cpu_start))

    untraced = [w for traced, w in sequence if not traced and w is not None] or all_walls
    untraced_cpu = [c for (traced, _w), c in zip(sequence, op_cpu) if not traced and c is not None]
    op_s_p50 = statistics.median(untraced)
    summary: dict[str, float] = {
        "rows_per_s": workload.rows / op_s_p50,
        "op_s_p50": op_s_p50,
        "ops_failed_frac": failed / attempted,
        "op_samples": len(untraced),
        "setup_wall_s": setup_wall_s,
        "cpu_steal_frac": steal / max(1, total),
    }
    if args.trace:
        section = "per_layer"
        metrics = median_metrics(per_op_layers)
        metrics["bench.trace_overhead_frac"] = trace_overhead(sequence)
        drift = count_drift(per_op_layers)
        vs_baseline = baseline_drift(workload.name, metrics) if per_op_layers else {}
    else:
        section = "end_to_end"
        op_cpu_s_p50 = statistics.median(untraced_cpu) if untraced_cpu else None
        metrics = {
            "rows_per_cpu_s": workload.rows / op_cpu_s_p50 if op_cpu_s_p50 else None,
            "op_cpu_s_p50": op_cpu_s_p50,
            "setup_s": setup_s,
            "driver_rss_mb": driver_rss_mb,
        }
        for k in phases[0] if phases else ():
            summary[f"{k.removesuffix('_s')}_s_p50" if k.endswith("_s") else k] = (
                statistics.median(p[k] for p in phases)
            )
        drift, vs_baseline = {}, {}
    units = {m["name"]: m["unit"] for m in spec[section]}
    correct = (not warmup_problems and failed == 0
               and all(metrics.get(k) is not None for k in units))

    record = {
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "workload": workload.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "load_1m": {"start": load_start, "end": load_end},
        "other_spark_jvms": others,
        "input": {"rows": workload.rows, "gen_s": cache.gen_s, "oracle": counts},
        "boot_s": boot_s, "oracle_s": oracle_s, "session_register_s": register_samples,
        "session_register_cpu_s": register_cpu, "warmup_op_s": warmup_s, "warmup_op_cpu_s": warmup_cpu, "op_sequence": sequence, "op_cpu_s": op_cpu,
        "op_phases": phases,
        "attempted": attempted, "failed": failed,
        "problems": (warmup_problems + problems)[:10],
        "count_drift": drift, "baseline_count_drift": vs_baseline,
        "summary": summary, "metrics": metrics,
    }
    os.makedirs(RESULTS_DIR, exist_ok=True)
    with open(os.path.join(RESULTS_DIR, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if args.trace:
        with open(os.path.join(RESULTS_DIR, f"spans-{workload.name}.json"), "w") as f:
            json.dump(tracer.dump(), f)

    print(f"workload={workload.name} seed={args.seed} rows={workload.rows} "
          f"attempted={attempted} failed={failed} load_1m={load_start:.2f}->{load_end:.2f}")
    summary_units = {"rows_per_s": "rows/s", "ops_failed_frac": "ratio", "op_samples": "count",
                     "cpu_steal_frac": "ratio", "store_bytes_per_row": "B/row"}
    for name, value in {**metrics, **summary}.items():
        unit = units.get(name) or summary_units.get(name) or "s"
        print(f"  {name} = {value if value is None else format(value, '.6g')} {unit}")
    for line in (warmup_problems + problems)[:5]:
        print(f"  problem: {line}")
    for name, values in drift.items():
        print(f"  count drift across operations: {name} {values}")
    for name, values in vs_baseline.items():
        print(f"  count differs from baseline_counts.json: {name} {values}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
