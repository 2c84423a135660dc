#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload ingest_fleet --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It builds its inputs from ``--seed``,
starts a Spark session of ``local[<usable cores>]`` through the
package's own ``session.get_spark``, sets up (inputs, catalog, warm-up
pass), runs whole timed passes for at least ``--seconds``, checks every
output, and prints as its last stdout line one JSON object::

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see ``perfbench/README.md``).  The
line before it is the run's environment record.  Everything the run
writes stays under ``.perfbench_work/`` in the repository root; the
full record (environment, input checksums, spans with self times and
Spark counters) goes to ``.perfbench_work/results/``.

Exit codes: 0 with a result line; 2 when the package or its oracle
harness cannot be imported (nothing to measure); anything else is a
crash, also without a result line.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # the run must end within 180 s

# ------------------------------------------------------------------ metrics
# (name, unit, better); every workload reports every metric
END_TO_END = [
    ("throughput", "items/s", "higher"),
    ("setup_s", "s", "lower"),
]
QUERY_COUNTERS = [("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                  ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                  ("gc_s", "s")]


def per_layer_specs() -> list[tuple[str, str, str]]:
    from workloads import QUERY_MIX

    specs = [
        ("session.start_s", "s", "lower"),
        ("catalog.load_s", "s", "lower"),
        ("sources.dat.decode_s", "s", "lower"),
        ("sources.dat.ranges", "count", "higher"),
        ("sources.acquisition.load_cache_s", "s", "lower"),
        ("sources.acquisition.process_s", "s", "lower"),
        ("sources.acquisition.jobs", "count", "lower"),
        ("sources.acquisition.stages", "count", "lower"),
        ("sources.acquisition.storage_bytes", "bytes", "lower"),
        ("operators.telemetry.tumbling_rms_s", "s", "lower"),
        ("operators.telemetry.write_hive_s", "s", "lower"),
        ("operators.telemetry.output_bytes", "bytes", "lower"),
        ("operators.telemetry.files", "count", "lower"),
        ("layers.coverage", "ratio", "higher"),
        ("streaming.acquisition_gate.first_result_s", "s", "lower"),
        ("streaming.acquisition_gate.listing_s", "s", "lower"),
        ("streaming.acquisition_gate.commit_s", "s", "lower"),
        ("streaming.acquisition_gate.converted_frac", "ratio", "higher"),
    ]
    for q in QUERY_MIX:
        specs += [(f"queries.{q}.{k}", unit, "lower") for k, unit in QUERY_COUNTERS]
    specs += [
        ("engine.executor_run_s", "s", "lower"),
        ("engine.executor_cpu_s", "s", "lower"),
        ("engine.cpu_util", "ratio", "higher"),
        ("engine.gc_s", "s", "lower"),
        ("engine.shuffle_bytes", "bytes", "lower"),
        ("engine.spill_bytes", "bytes", "lower"),
        ("engine.tasks", "count", "lower"),
        ("engine.task_skew", "ratio", "lower"),
        ("engine.jvm_peak_rss_mb", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return specs


# -------------------------------------------------------------- environment
def usable_cores() -> int:
    """What ``nproc`` prints: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


def canary_s() -> float:
    """A fixed CPU-bound loop; recorded beside each run, never used to
    rescale a metric."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def prepare_process_env(run_dir: str) -> None:
    """Keep every file Spark, its JVM and its Python workers write
    inside the run directory, and let the workers import the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM, spark-submit's launcher included: no perf-data file
    # under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf " + shlex.quote(f"spark.sql.warehouse.dir={run_dir}/warehouse"),
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# --------------------------------------------------------------------- main
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_fleet", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full",
                    help="input size; smoke is the self-test's tiny one")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage one output before its check")
    return ap.parse_args(argv)


def importable() -> str | None:
    sys.path.insert(0, ROOT)
    try:
        import gcf_corima_parquet_converter_spark.streaming.acquisition_gate  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        return str(e)
    return None


def _deadline(_sig, _frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = importable()
    if missing:
        print(f"perfbench: nothing to benchmark here ({missing})", file=sys.stderr)
        return 2
    import spans
    import workloads

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_process_env(run_dir)
    env = {"nproc": usable_cores(), "python": platform.python_version(),
           "git_commit": git_commit(), "loadavg_before": spans.loadavg(),
           "canary_before_s": canary_s()}

    from gcf_corima_parquet_converter_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=env["nproc"])
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        env.update(spark=spark.version,
                   java=spark._jvm.java.lang.System.getProperty("java.version"),
                   default_parallelism=spark.sparkContext.defaultParallelism)
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds, size=args.size,
            work=run_dir, cache=os.path.join(WORK, "cache"),
            trace=bool(args.trace), corrupt=args.corrupt, t0=PROCESS_START,
        )
        ctx.mark("session")
        out = workloads.WORKLOADS[args.workload](ctx)
        rss_mb = spans.jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    signal.alarm(0)
    env.update(loadavg_after=spans.loadavg(), canary_after_s=canary_s())

    if args.trace:
        layers = {name: 0.0 for name, _, _ in per_layer_specs()}
        layers["session.start_s"] = session_s
        layers["engine.jvm_peak_rss_mb"] = rss_mb
        layers.update(spans.engine_counters(
            ctx.info["stages"], ctx.info["timed_start"], ctx.info["timed_end"],
            env["nproc"]))
        layers.update(out.layers)
        units = {n: u for n, u, _ in per_layer_specs()}
        metrics = {n: {"value": float(layers[n]), "unit": units[n]} for n in units}
    else:
        values = {
            "throughput": out.throughput,
            "setup_s": ctx.info["setup_end"] - PROCESS_START,
        }
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u, _ in END_TO_END}
    result = {"correct": out.failed == 0 and out.attempted > 0,
              "attempted": out.attempted, "failed": out.failed,
              "metrics": metrics}

    record = {"args": vars(args), "env": env, "result": result,
              "inputs": ctx.info.get("inputs"),
              "check_errors": ctx.info.get("check_errors"),
              "phases": ctx.info.get("phases"),
              "ops": out.ops, "spans": ctx.tracer.to_json()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
