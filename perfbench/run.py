"""Benchmark of the results-ingestor engine, one workload per process.

    python3 perfbench/run.py --workload ingest_sink --seed 0 \\
        --seconds 15 --trace 0

Run from the root of a checkout.  The run pins the environment, makes
the seed's inputs, brings a session up and checks every output of a
first pass against its DuckDB oracle.  It then warms up for a fixed
number of passes, times whole passes for ``--seconds``, and measures
session set-up several times.  The last
line of standard output is one JSON object; with ``--trace 1`` its
metrics are the per-layer ones and the spans go to
``.perfbench_work/trace/``.  See perfbench/README.md.
"""

from __future__ import annotations

import time

PROC_T0 = time.monotonic()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from spans import Tracer, log  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PINNED = os.path.join(HERE, "data", "sf0.01")

DRIVER_MEM = "4g"    # local mode runs everything in the driver heap
SETUPS = 3           # session set-ups per run; setup_s is their median
WARMUP_PASSES = 2    # untimed passes before the timed window
WARMUP_CAP_S = 30.0  # ... unless another would overrun this
SETTLE_DROP = 0.03   # settled: the last pass set no new low by > 3%
MIN_PASSES = 3       # timed passes per run, at least (4 when traced)
TRACE_PATTERN = (False, True, True, False)  # untraced/traced, ABBA

PER_LAYER_UNITS = {
    "session.cold_start_s": "s", "session.get_spark_s": "s",
    "sources.load_tables_s": "s", "plans.build_s": "s",
    "plans.build_jobs": "count", "plans.build_tasks": "count",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "sources.scan_bytes": "bytes",
    "sources.scan_files": "count", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.output_rows": "count", "spark.arrow_bytes_to_python": "bytes",
    "sources.ingest_pct": "%", "sources.write_parquet_pct": "%",
    "sources.write_jdbc_pct": "%", "sources.rows_written": "count",
    "operators.ckpt.release_s": "s", "trace.overhead_s": "s",
    "trace.span_self_s": "s", "bench.warmup_passes": "count",
}


def pin_environment() -> dict:
    """Environment every run uses, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_RELIABLE_CKPT", None)  # local checkpoints
    return env


def session_confs() -> dict:
    """Session confs passed to get_spark.  The JVM gets a fixed-size
    heap under the parallel collector: with G1's adaptive sizing, peak
    RSS and pass times varied far more from run to run."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -Xms{DRIVER_MEM} -Xmn1g -XX:-UsePerfData "
            f"-Djava.io.tmpdir={WORK}/tmp -Dderby.system.home={WORK}/derby "
            f"-Dderby.stream.error.file={WORK}/derby.log"),
    }


def import_program():
    """The program's public modules; exits 2 when they are not here."""
    sys.path.insert(0, ROOT)
    try:
        from results_ingestor_spark.session import get_spark
        from results_ingestor_spark.sources.tables import load_tables
        import tools.check_correctness  # noqa: F401
        import tools.gen_lottery_corpus  # noqa: F401
    except ImportError as ex:
        log(f"cannot import the program from {ROOT}: {ex}")
        sys.exit(2)
    if not os.path.isdir(PINNED):
        log(f"pinned corpus missing: {PINNED}")
        sys.exit(2)
    return get_spark, load_tables


def set_up(get_spark, load_tables, tables, corpus, tracer):
    """One session set-up: get_spark + load_tables.  Returns the
    session and the two durations."""
    with tracer.span("session", "setup"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_confs=session_confs())
        t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("load", "setup"):
        t2 = time.perf_counter()
        load_tables(spark, corpus, tables)
        t3 = time.perf_counter()
    return spark, t1 - t0, t3 - t2


def warm_up(bench) -> tuple[int, bool]:
    """WARMUP_PASSES untimed passes (fewer if the next would overrun
    WARMUP_CAP_S).  The JIT keeps speeding passes up for about a minute,
    more than a run can afford, so the budget counts passes: a run
    slowed by host load then does not also time a colder JVM.  Returns
    (passes, settled), settled when the last pass set no new low by
    more than SETTLE_DROP."""
    times: list[float] = []
    t0 = time.perf_counter()
    while len(times) < WARMUP_PASSES and (
            not times
            or time.perf_counter() - t0 + times[-1] <= WARMUP_CAP_S):
        bench.pass_no += 1
        times.append(bench.run_pass(verify=False))
    settled = len(times) >= 2 and (
        times[-1] >= min(times[:-1]) * (1 - SETTLE_DROP))
    return len(times), settled


def pass_seconds(bench, passes) -> float:
    """Time of the median pass, built op by op: the sum over the pass's
    operations of each one's median time across ``passes``.  A stall
    that hits one operation of one pass then moves one sample, not the
    whole pass."""
    ops = bench.op_times[passes[0]]
    return sum(statistics.median(bench.op_times[p][op] for p in passes)
               for op in ops)


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), summed over CPUs."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the JVM (VmHWM)."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def shut_down(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def per_layer(bench, tracer, traced, untraced, setups, cold_s,
              warm_passes) -> dict:
    """Median over the traced timed passes of each layer's figure."""
    rows = []
    for p in traced:
        spans = [s for s in tracer.spans if s["pass"] == p]
        self_t = tracer.self_times(p)
        r = dict(bench.pass_counts[p])

        def total(pred):
            return sum(s["end"] - s["start"] for s in spans if pred(s))

        r["plans.build_s"] = self_t.get("build", 0.0)
        r["spark.exec_s"] = self_t.get("exec", 0.0) + self_t.get("sink", 0.0)
        r["operators.ckpt.release_s"] = self_t.get("release", 0.0)
        # Shares of the pass, not seconds: scan_shuffle has no ingest or
        # sink, and a share reads 0 there without being a constant time.
        pct = 100 / bench.pass_times[p]
        r["sources.ingest_pct"] = pct * total(
            lambda s: s["query"] == "csv_ingest" and s["name"] != "status")
        for target in ("parquet", "jdbc"):
            r[f"sources.write_{target}_pct"] = pct * total(
                lambda s: s.get("target") == target)
        r["trace.span_self_s"] = sum(
            v for k, v in self_t.items() if k != "pass")
        rows.append(r)
    out = {k: statistics.median(r.get(k, 0.0) for r in rows)
           for k in PER_LAYER_UNITS if k not in (
               "session.cold_start_s", "session.get_spark_s",
               "sources.load_tables_s", "trace.overhead_s",
               "bench.warmup_passes")}
    overhead = (statistics.median(bench.pass_times[p] for p in traced)
                - statistics.median(bench.pass_times[p] for p in untraced))
    out.update({
        "session.cold_start_s": cold_s,
        "session.get_spark_s": statistics.median(s[0] for s in setups),
        "sources.load_tables_s": statistics.median(s[1] for s in setups),
        "trace.overhead_s": overhead,
        "bench.warmup_passes": warm_passes,
    })
    untraced_pass = statistics.median(bench.pass_times[p] for p in untraced)
    ok = out["trace.span_self_s"] <= untraced_pass + overhead + 1e-9
    log(f"span self times {out['trace.span_self_s']:.3f} s <= untraced "
        f"pass {untraced_pass:.3f} s + overhead {overhead:.3f} s: {ok}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_sink", "scan_shuffle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    env = pin_environment()
    get_spark, load_tables = import_program()
    from workloads import (
        TABLES, Bench, csv_answer, make_corpus, stage_csv, table_rows)

    os.makedirs(env["TMPDIR"], exist_ok=True)
    t_gen = time.monotonic()
    tag, corpus = make_corpus(args.seed, PINNED, WORK)
    t_gen = time.monotonic() - t_gen
    tables = TABLES[args.workload]
    tracer = Tracer(args.workload, enabled=bool(args.trace))

    # Cold set-up, from process start; input generation excluded.
    spark, _, _ = set_up(get_spark, load_tables, tables, corpus, tracer)
    cold_s = time.monotonic() - PROC_T0 - t_gen
    try:
        bench = Bench(spark, args.workload, corpus, tag, WORK, tracer,
                      int(env["SPARK_GRAFT_CPUS"]))
        input_rows = table_rows(corpus, tables)
        if args.workload == "ingest_sink":
            bench.csv_dir = stage_csv(
                spark, corpus, os.path.join(WORK, "stage", tag))
            bench.csv_expect = csv_answer(bench.csv_dir)
            input_rows += bench.csv_expect[0]

        log("inputs ready; correctness pass")
        tracer.enabled = False
        bench.run_pass(verify=True)              # pass 0: oracle check
        log("warm-up")
        warm_passes, settled = warm_up(bench)
        log(f"{warm_passes} warm-up passes (settled: {settled}); timing")

        timed, traced, untraced = [], [], []
        t_win = time.perf_counter()
        ticks = cpu_ticks()
        min_passes = 4 if args.trace else MIN_PASSES
        while (len(timed) < min_passes or time.perf_counter() - t_win
               + bench.pass_times[timed[-1]] <= args.seconds):
            bench.pass_no += 1
            is_traced = bool(args.trace) and TRACE_PATTERN[
                len(timed) % len(TRACE_PATTERN)]
            tracer.enabled = is_traced
            bench.pass_times[bench.pass_no] = bench.run_pass(verify=False)
            bench.pass_counts[bench.pass_no] = bench.counts
            timed.append(bench.pass_no)
            (traced if is_traced else untraced).append(bench.pass_no)

        steal = steal_pct(ticks, cpu_ticks())
        log("session set-ups")
        tracer.enabled = bool(args.trace)
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            spark, g, ld = set_up(get_spark, load_tables, tables, corpus,
                                  tracer)
            setups.append((g, ld))
        bench.spark = spark
        rss = peak_rss_mb(spark)
    finally:
        shut_down(spark)
    log("session stopped")

    pass_s = pass_seconds(bench, untraced)
    attempted = bench.attempted
    failed = len(bench.failed_ops)
    summary = {
        "workload": args.workload, "seed": args.seed, "corpus": tag,
        "environment": {**env, **session_confs()},
        "warmup_passes": warm_passes, "warmup_settled": settled,
        "pass_times_s": [bench.pass_times[p] for p in timed],
        "traced_passes": traced, "input_rows": input_rows,
        "setups_s": setups, "session_cold_start_s": cold_s,
        "peak_rss_mb": rss,
        "window_steal_pct": steal,
        "correctness_op_s": bench.op_times[0],
        "op_times_s": {p: bench.op_times[p] for p in timed},
    }
    log("summary " + json.dumps(summary))
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.write(os.path.join(
            WORK, "trace", f"{args.workload}-seed{args.seed}.json"))
        vals = per_layer(bench, tracer, traced, untraced, setups, cold_s,
                         warm_passes)
        metrics = {k: {"value": vals[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(g + ld for g, ld in setups),
                        "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "rows_per_s": {"value": input_rows / pass_s, "unit": "rows/s"},
            "success_ratio": {"value": (attempted - failed) / attempted,
                              "unit": "ratio"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
