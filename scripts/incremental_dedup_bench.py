"""VERDICT r4 #7: per-batch marginal cost of the GROWING-index
streaming dedup (`incremental_minhash_dedup`) as the index accretes.

The 100× replay numbers measure whole-run backfill; this measures the
thing that decides steady-state viability: how the cost of ingesting
batch *i* grows with the size of the index it probes (batches 0..i-1).
Constant-size micro-batches over a replicated corpus, per-batch
durations straight from the engine's progress log. The probe join
reads every earlier `batch=<id>` parquet append, so the SCAN side of
the probe grows linearly in i — the question is whether the constant
per-batch work (signature computation, intra-batch self-join, append)
dominates at realistic index sizes, and what the slope is.

Reports first/last-quartile mean batch duration, the linear-fit slope
(ms per batch of index growth), and total pairs. Results → PERF.md.

Run: python scripts/incremental_dedup_bench.py [replicas] [n_batches] [hash_engine]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.session import get_spark
from vspace_spark.streaming.incremental import incremental_minhash_dedup


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    hash_engine = sys.argv[3] if len(sys.argv) > 3 else "portable"
    spark = get_spark("incremental-dedup-bench")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    span = base.agg(F.max("doc_id")).first()[0] + 1
    # replicate with PERTURBED text (replica tag appended) so replicas
    # are near-dups of their source, not verbatim clones — the probe
    # then does real signature-agreement work instead of collapsing
    docs = (
        base.crossJoin(
            F.broadcast(
                spark.range(replicas).select(F.col("id").alias("_r"))
            )
        )
        .select(
            (F.col("doc_id") + F.col("_r") * span).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(F.concat("text", F.lit(" r"), F.col("_r")))
            .alias("text"),
        )
        .filter(F.size(F.split("text", r"\s+")) >= 3)
    )
    n_docs = docs.count()

    progress: list = []
    work = f"/tmp/vspace_incr_bench_x{replicas}_{n_batches}"
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    pairs = incremental_minhash_dedup(
        spark,
        docs,
        work_dir=work,
        n_input_files=n_batches,
        progress_out=progress,
        hash_engine=hash_engine,
    )
    n_pairs = pairs.count()
    elapsed = time.perf_counter() - t0

    progress.sort(key=lambda p: p["batch_id"])
    durs = [p["duration_ms"] for p in progress]
    assert len(durs) == n_batches, (
        f"progress log incomplete: {len(durs)} of {n_batches} batches"
    )
    q = max(1, len(durs) // 4)
    first_q = sum(durs[:q]) / q
    last_q = sum(durs[-q:]) / q
    # least-squares slope of duration vs batch index
    n = len(durs)
    xbar = (n - 1) / 2
    ybar = sum(durs) / n
    slope = sum(
        (i - xbar) * (d - ybar) for i, d in enumerate(durs)
    ) / max(sum((i - xbar) ** 2 for i in range(n)), 1e-9)

    print(
        {
            "hash_engine": hash_engine,
            "n_docs": n_docs,
            "n_batches": n,
            "n_pairs": n_pairs,
            "total_sec": round(elapsed, 1),
            "batch_ms_first_quartile": round(first_q),
            "batch_ms_last_quartile": round(last_q),
            "growth_ratio_last_vs_first": round(last_q / first_q, 2),
            "slope_ms_per_batch": round(slope, 1),
            "durations_ms": durs,
        },
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
