"""Benchmark of the spark-fulltext engine: one command, every metric, checked answers.

    python3 perfbench/run.py --workload {serve,contract} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root (any working directory works; the repository is
found from this file's location).  Starts one Spark session at
``local[<cores>]``, generates the workload's inputs from ``--seed``, sets up,
times closed-loop operations for ``--seconds``, checks every answer after the
timed region, and prints one JSON object as the last line of standard
output.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark job/stage accounting and the Python UDF profiler and reports the
per-layer metrics, and writes every span to
``.perfbench_work/traces/<workload>-seed<N>.json``.  The names and units of
the metrics are read from ``BENCHMARK.json`` at the repository root.  See
perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
DEADLINE_S = 170  # the whole run, set-up and checks included


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["serve", "contract"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let the Python workers import the engine from the repository."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _stop(spark, pids: list[int]) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return
        time.sleep(0.1)


def _metrics(values: dict[str, float], spec: list[dict], fill: bool) -> dict:
    """``values`` as the result line's metrics, with the names and units of
    ``spec`` (a list of ``BENCHMARK.json``).  A value whose name is not in
    ``spec`` is an error; a name without a value reads 0 if ``fill``."""
    units = {m["name"]: m["unit"] for m in spec}
    unknown = sorted(set(values) - set(units))
    missing = sorted(set(units) - set(values))
    if unknown or (missing and not fill):
        raise KeyError(f"metrics not in BENCHMARK.json: {unknown}; without a value: {missing}")
    return {name: {"value": values.get(name, 0.0), "unit": unit} for name, unit in units.items()}


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    args = _parse()
    sys.path[:0] = [ROOT, HERE]
    try:
        from modernsearchengines_spark.session import get_spark
    except ImportError as err:
        print(f"perfbench: the engine is not importable from {ROOT}: {err}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    _prepare_env(work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    from procs import cpu_seconds, hwm_mb, process_tree
    from tracer import Tracer
    from workloads import WORKLOADS, Run

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    t_session = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    t_session = time.perf_counter() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss() -> float:
        """Summed VmHWM of the driver JVM and its Python workers."""
        pids = process_tree(jvm_pid)
        jvm, workers = hwm_mb(pids[:1]), hwm_mb(pids[1:])
        print(f"perfbench: peak rss jvm={jvm:.0f} MB python workers={workers:.0f} MB "
              f"in {len(pids) - 1} processes")
        return jvm + workers

    run = Run(
        root=ROOT, work=work, seed=args.seed, seconds=args.seconds, spark=spark,
        tracer=Tracer(spark, bool(args.trace), T0),
        cpu=lambda: cpu_seconds([os.getpid()] + process_tree(jvm_pid)),
        memory=peak_rss,
    )
    run.layers["session.get_spark.wall_s"] = t_session
    try:
        WORKLOADS[args.workload](run)
    finally:
        pids = process_tree(jvm_pid)
        if args.trace:
            os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(
                work_root, "traces", f"{args.workload}-seed{args.seed}.json"
            ))
        _stop(spark, pids)
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)

    if not run.op_walls or not run.items:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": run.first_op - T0,
        "op_cpu_s": statistics.geometric_mean(run.op_cpus),
        "cpu_per_item_s": run.items_cpu / run.items,
        "peak_rss_mb": run.peak_rss_mb,
    }
    for name, digest in sorted(run.digests.items()):
        print(f"perfbench: input {name} sha256:{digest}")
    print("perfbench: op walls " + " ".join(f"{w:.3f}" for w in run.op_walls))
    print("perfbench: op cpu " + " ".join(f"{c:.3f}" for c in run.op_cpus))
    print(f"perfbench: {run.items} items in {run.items_wall:.3f} s wall, {run.items_cpu:.3f} s cpu")
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(run.op_walls)} "
          f"attempted={run.attempted} failed={run.failed} cores={CORES}")
    if args.trace:
        values = dict(run.layers)
        values["ops.timed_share_min"] = min(run.timed_shares)
        values["ops.wall_p50_s"] = statistics.median(run.op_walls)
        values["ops.items_per_s"] = run.items / run.items_wall
        for name, value in e2e.items():
            values[f"traced.{name}"] = value
        metrics = _metrics(values, spec["per_layer"], fill=True)
    else:
        metrics = _metrics(e2e, spec["end_to_end"], fill=False)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
