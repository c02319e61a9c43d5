"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Run from the repository root.  Generates the inputs from ``--seed``, drives
the program (``myscaledb_spark``) through its public API, checks every
output against numpy oracles, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes lives under ``.perfbench/`` in the repository
root; the per-run scratch directory is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"  # far below host RAM, so GC timing, not paging, is measured


def _env(run_dir: str) -> None:
    """Pin the process environment before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # Spark's Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"--driver-java-options '-XX:-UsePerfData -XX:ParallelGCThreads=2 "
        f"-XX:ConcGCThreads=1 -XX:CICompilerCount=2 -Djava.io.tmpdir={tmp}'",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_jvm() -> None:
    """End the py4j gateway's JVM and wait for it: it exits on stdin EOF."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "myscaledb_spark", "__init__.py")):
        print(f"no program to measure: {ROOT}/myscaledb_spark is missing",
              file=sys.stderr)
        return 2

    # the metric names and units are BENCHMARK.json's
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    _env(run_dir)
    sys.path.insert(0, ROOT)

    import layers
    from spans import Tracer
    from workloads import Run

    t = time.perf_counter()
    import myscaledb_spark.plans.table_ddl  # noqa: F401  (the program's import cost)
    import myscaledb_spark.sql_dialect  # noqa: F401
    import_s = time.perf_counter() - t

    tracer = Tracer() if args.trace else None
    run = Run(run_dir, args.seed, args.seconds, tracer)
    run.t_start = T_PROCESS
    run.layer["session.import_s"] = import_s
    try:
        if tracer:
            run.info["unseen_bindings"] = tracer.install()
        metrics = WORKLOADS[args.workload](run)
        metrics["retained_mb"] = run.jvm.retained_mb()
        attempted, failed = run.verify()
        metrics["recall_at_10"] = sum(run.recalls) / max(1, len(run.recalls))
        run.mark("verify")
        if tracer:
            tracer.uninstall()
            os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, "traces", f"{args.workload}-{args.seed}.json"))
            report = layers.per_layer(run, tracer, [m["name"] for m in bench["per_layer"]])
        else:
            report = {m["name"]: metrics[m["name"]] for m in bench["end_to_end"]}
    finally:
        run.stop_session()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        run.mark("stop")

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    run.info.update(
        workload=args.workload, seed=args.seed, cpus=CPUS, driver_mem=DRIVER_MEM,
        error_rate=failed / attempted,
        end_to_end=None if not tracer else {k: round(v, 4) for k, v in metrics.items()},
    )
    print("perfbench: " + json.dumps(run.info, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]}
            for k, v in report.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
