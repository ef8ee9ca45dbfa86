"""vspace_spark benchmark: seeded workloads through the public functions
of ``streaming.incremental`` and ``operators.similarity``, with
``pipelines.corpus_job`` probed in the traced run.

    python3 perfbench/run.py --workload vector_search --seed 7 --seconds 10 --trace 0

One run = set-up (Spark session start plus the workload's warm-up
passes over inputs of the same size from a disjoint seed), then whole
measured passes: at least one, more while they fit in ``--seconds``. Every pass's
output is checked against ground truth the generator computed without
Spark. The last stdout line is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``, the line before it the run's
context (cores, task slots, host load, every pass and batch time). With
``--trace 1`` the metrics are the per-layer ones (see ``workloads.py``
and ``layers.json``), otherwise the end-to-end ones:

- ``setup_s``: session start + warm-up passes (data generation excluded);
- ``wall_s``: median pass time, input to complete result;
- ``core_s``: median process-tree CPU-seconds per pass (driver, JVM and
  Python workers);
- ``batch_p50_s``: median time of one batch: a micro-batch of the
  replay, or one query batch through both top-k operators;
- ``recall``: planted near-duplicate pairs found, or LSH recall@10
  against the exact numpy top-10;
- ``exact``: share of output rows equal to the ground-truth rows.

Inputs, Spark scratch space and outputs all stay under this directory
(``_cache`` and ``_work``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# Seeds of warm-up inputs are offset into a range no measured seed uses.
WARMUP_SEED_OFFSET = 1 << 40
WORKLOADS = ("incremental_dedup", "vector_search")
MIN_PASSES = 1


def _prepare_env(nproc: int) -> None:
    """Pin what the benchmark owns before the JVM starts: task slots =
    usable cores (``get_spark`` would default to ``local[32]``) and
    every scratch directory inside the checkout. The heap is left to
    the program's own rule (``session._default_driver_mem``)."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_DRIVER_MEM", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the spark-submit launcher runs a JVM of its own before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    # executors' Python workers must find the package from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _session():
    from vspace_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        "vspace-perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no hsperfdata under /tmp; JVM temp files in the checkout
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={tmp}",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, spark, inputs, seconds: float) -> dict:
    """Run whole passes, at least ``MIN_PASSES``, and then more
    while the next one (as long as the slowest so far) still ends
    within ``seconds``; check each. Returns the raw samples."""
    from perfbench import tracing as tr

    walls, cores, batches = [], [], []
    attempted = failed = 0
    recalls, exacts = [], []
    start = time.perf_counter()
    while len(walls) < MIN_PASSES or (
        time.perf_counter() - start + max(walls) <= seconds
    ):
        # every pass starts as a fresh job would, with nothing cached by
        # an earlier one (run_job, for one, leaves its vocabulary cached)
        spark.catalog.clearCache()
        c0, t0 = tr.tree_cpu_s(), time.perf_counter()
        out = wl.run_pass(spark, inputs)
        walls.append(time.perf_counter() - t0)
        cores.append(tr.tree_cpu_s() - c0)
        batches.extend(out.batch_s)
        checks = wl.check(out.result, inputs)
        a, f = count_failures(checks)
        attempted += a
        failed += f
        recalls.extend(c["recall"] for c in checks)
        exacts.extend(c["exact"] for c in checks)
    return {
        "walls": walls,
        "cores": cores,
        "batches": batches,
        "attempted": attempted,
        "failed": failed,
        "recall": statistics.fmean(recalls),
        "exact": statistics.fmean(exacts),
    }


def count_failures(checks: list[dict]) -> tuple[int, int]:
    """One checked operation per entry; it failed unless ``correct``."""
    return len(checks), sum(1 for c in checks if not c["correct"])


def result(m: dict, metrics: dict) -> dict:
    """The last stdout line: correct only when no checked operation failed."""
    return {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metrics,
    }


def end_to_end(setup_s: float, m: dict) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": statistics.median(m["walls"]), "unit": "s"},
        "core_s": {"value": statistics.median(m["cores"]), "unit": "s"},
        "batch_p50_s": {"value": statistics.median(m["batches"]), "unit": "s"},
        "recall": {"value": m["recall"], "unit": "ratio"},
        "exact": {"value": m["exact"], "unit": "ratio"},
    }


def per_layer(values: dict) -> dict:
    """Every per-layer metric BENCHMARK.json declares, with its unit. A
    layer the workload never enters did no work in it and reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer"]
    declared = {m["name"]: m["unit"] for m in spec}
    unknown = set(values) - set(declared)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in declared.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="vspace_spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    # the program under test is the checkout this directory sits in;
    # fail here, before any work, when it is not there
    import vspace_spark  # noqa: F401

    from perfbench import tracing as tr
    from perfbench.generate import generate
    from perfbench.workloads import WORKLOAD_CLASSES, CorpusJob

    nproc = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    _prepare_env(nproc)
    wl = WORKLOAD_CLASSES[args.workload]()
    inputs = generate(args.workload, args.seed)
    warm_inputs = generate(args.workload, args.seed + WARMUP_SEED_OFFSET)

    t0 = time.perf_counter()
    spark = _session()
    start_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        for _ in range(wl.warmup_passes):
            spark.catalog.clearCache()
            wl.run_pass(spark, warm_inputs)
        warmup_s = time.perf_counter() - t1
        setup_s = start_s + warmup_s

        m = measure(wl, spark, inputs, args.seconds)
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "task_slots": spark.sparkContext.defaultParallelism,
            "load1_before": load1,
            "load1_after": os.getloadavg()[0],
            "passes": len(m["walls"]),
            "start_s": start_s,
            "warmup_s": warmup_s,
            "walls": m["walls"],
            "batch_s": m["batches"],
        }
        if args.trace:
            tracer = tr.Tracer()
            spark.catalog.clearCache()
            layer = wl.traced_pass(spark, inputs, tracer)
            a, f = count_failures(layer.pop("_checks"))
            m["attempted"] += a
            m["failed"] += f
            # the JIT still speeds passes up one after another, so the
            # traced pass is compared with an untraced pass on each side
            after = measure(wl, spark, inputs, 0)
            m["attempted"] += after["attempted"]
            m["failed"] += after["failed"]
            layer["trace.overhead_s"] = layer.pop("_traced_wall_s") - statistics.fmean(
                (statistics.median(m["walls"]), after["walls"][0])
            )
            # the workload's own memory peak, before the probe below runs
            layer.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.peak_rss_mb": tr.tree_peak_rss_mb(),
            })
            if args.workload == "vector_search":
                # corpus_job is no workload of its own (a run of it costs
                # as much as a whole workload's), so its layers are
                # probed here, after a warm-up pass of their own
                probe = CorpusJob()
                spark.catalog.clearCache()
                probe.run_pass(spark, generate(probe.name, args.seed + WARMUP_SEED_OFFSET))
                spark.catalog.clearCache()
                pm = probe.traced_pass(spark, generate(probe.name, args.seed), tracer)
                pm.pop("_traced_wall_s")
                a, f = count_failures(pm.pop("_checks"))
                m["attempted"] += a
                m["failed"] += f
                layer.update(pm)
            metrics = per_layer(layer)
            tracer.write(
                os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            )
        else:
            metrics = end_to_end(setup_s, m)
    finally:
        _stop_session(spark)
        tr.wait_children(timeout=60)
    print(json.dumps(context, sort_keys=True))
    print(json.dumps(result(m, metrics)))
    return 0


if __name__ == "__main__":
    # import the package by name; the script's own directory must not
    # shadow standard modules
    sys.path[0] = ROOT
    sys.exit(main())
