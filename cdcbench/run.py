"""CDC engine benchmark — one workload, one seed, one run.

    python3 cdcbench/run.py --workload {tail,backfill} --seed N --seconds S --trace {0,1}

Run from the repository root. The engine runs in this process on Spark
``local[k]`` (k = min(4, CPUs)). Inputs are generated from ``--seed``; the
window is a fixed number of epochs sized from ``--seconds``, so it lasts
about that long on 4 vCPUs. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. Progress and problems go to
standard error. A traced run also writes its spans to
``.cdcbench_out/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_PROC = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cdcbench import log  # noqa: E402


def build_spark(workdir: str):
    """Spark on local[k]; every file it or its JVM writes stays in ``workdir``."""
    import tempfile

    from pyspark.sql import SparkSession

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    cores = min(4, os.cpu_count() or 1)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("cdcbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the ~2 MB backfill file is scanned by three tasks, not one
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a pinned heap: heap growth during the window made epochs uneven;
        # JIT compiler threads that never exit keep their CPU time readable
        # (procstat.tree_jit_cpu_s)
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms2g -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(workdir, "local"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    from cdcbench import procstat

    children = [p for p in procstat.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    left = procstat.wait_gone(children, 30)
    if left:
        log(f"processes still alive after Spark stopped: {left}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "nvimagecodec_spark")) or not os.path.exists(spec_path):
        log(f"no engine source (nvimagecodec_spark/) or BENCHMARK.json under {ROOT}")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    # executor Python workers import the engine too (the Avro decode UDF)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from cdcbench import inputs
    from cdcbench.trace import Tracer
    from cdcbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    # the same path on every run of a seed: table metadata and the rows'
    # source-file lineage carry it, and byte counts must repeat exactly
    workdir = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    spark = build_spark(workdir)
    log("spark started")
    tracer = None
    try:
        if args.trace:
            tracer = Tracer(spark, args.workload)
        run = Run(spark, workdir, args.seed, args.seconds, tracer, T_PROC)
        if tracer:
            run.install_tracing()
        written = WORKLOADS[args.workload](run)
        if tracer:
            tracer.active = False
            metrics = run.per_layer()
        else:
            metrics = run.end_to_end()
        log("window closed; " + ", ".join(f"{k}={v:.4g}" for k, v in metrics.items()))
        oracles: dict[int, list[dict]] = {}
        for table, events in written:
            if id(events) not in oracles:
                oracles[id(events)] = inputs.canon_oracle(events)
            diff = inputs.mismatch(inputs.canon_table(table), oracles[id(events)])
            if diff:
                run.problems.append(f"{table.path}: {diff}")
        log(f"{len(written)} tables checked against the oracle")
        if tracer:
            out = os.path.join(ROOT, ".cdcbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
            tracer.unpatch()
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    log("spark stopped")
    missing = sorted(set(units) - set(metrics))
    for problem in run.problems:
        log(problem)
    if missing and not run.problems:
        log(f"metrics not produced: {missing}")
        return 1
    result = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": units[name]} for name in units if name in metrics},
    }
    steal = (run.steal1 - run.steal0) / max((run.t1 - run.t0) * (os.cpu_count() or 1), 1e-9)
    log(f"{args.workload} seed={args.seed}: {len(run.timed)} timed epochs in {run.t1 - run.t0:.2f}s, "
        f"{steal:.1%} of host CPU stolen during the window")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report, then fail the run
        traceback.print_exc()
        sys.exit(1)
