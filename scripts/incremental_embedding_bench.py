"""VERDICT r10 #6: per-batch marginal cost of the EMBEDDING leg of
the accreting-index trilogy (`incremental_embedding_dedup`) at the
100x replica scale — the batch-only 100x bench block never exercises
the streaming operators, and these are the most scale-critical new
surface of rounds 9-10.

Replication must NOT create cosine-near-dup clones (scaling a vector
leaves cosine at 1.0 and the pair output quadratic in replicas — that
is the clone-stress case, not scale): each replica ROTATES the base
vector by r mod D positions and negates it for r >= D, so all 128
possible transforms are pairwise-distinct directions and the 100
replicas of a base vector land in different LSH buckets. The measured
quantity is what decides steady-state ingest viability: how batch i's
cost grows with the index accreted by batches 0..i-1.

Reports the same shape as scripts/incremental_dedup_bench.py
(first/last-quartile batch ms, least-squares slope, totals).

LSH width must SCALE WITH N (measured the hard way: the operator's
fixture-sized defaults, bits_per_table=4 => 16 buckets/table, put
~N/16 vectors in every bucket — candidate volume ~N^2/2 at 200k
vectors, >12 min for ONE batch). Buckets per table should track
corpus size (bits_per_table ~ log2(N/target_occupancy)), so the
harness defaults to bits=64, bits_per_table=16 (65536 buckets/table,
4 tables) at the 100x scale and takes both on the CLI.

Run: python scripts/incremental_embedding_bench.py [replicas]
     [n_batches] [bits] [bits_per_table] [sig_engine]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.session import get_spark
from vspace_spark.streaming.incremental import incremental_embedding_dedup


def replicated_embeddings(spark, sf_dir: str, replicas: int):
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    span = base.agg(F.max("vec_id")).first()[0] + 1
    dim = base.select(F.size("embedding")).first()[0]
    rep = F.broadcast(
        spark.range(replicas).select(F.col("id").alias("_r"))
    )
    rot = (F.col("_r") % dim + 1).cast("int")
    rotated = F.concat(
        F.slice(F.col("embedding"), rot, F.lit(dim)),
        F.slice(F.col("embedding"), F.lit(1), rot - 1),
    )
    flipped = F.when(
        F.col("_r") >= dim,
        F.transform(rotated, lambda x: -x),
    ).otherwise(rotated)
    return base.crossJoin(rep).select(
        (F.col("vec_id") + F.col("_r") * span).alias("vec_id"),
        flipped.alias("embedding"),
    )


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    bits = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    bits_per_table = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    sig_engine = sys.argv[5] if len(sys.argv) > 5 else "fold"
    spark = get_spark("incremental-embedding-bench")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    emb = replicated_embeddings(spark, sf_dir, replicas)
    n_vecs = emb.count()

    progress: list = []
    work = f"/tmp/vspace_incr_embbench_x{replicas}_{n_batches}"
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    pairs = incremental_embedding_dedup(
        spark,
        emb,
        bits=bits,
        bits_per_table=bits_per_table,
        sig_engine=sig_engine,
        work_dir=work,
        n_input_files=n_batches,
        progress_out=progress,
    )
    n_pairs = pairs.count()
    elapsed = time.perf_counter() - t0

    progress.sort(key=lambda p: p["batch_id"])
    durs = [p["duration_ms"] for p in progress]
    assert len(durs) == n_batches, (
        f"progress log truncated: {len(durs)} of {n_batches}"
    )
    q = max(1, len(durs) // 4)
    n = len(durs)
    xbar = (n - 1) / 2
    ybar = sum(durs) / n
    slope = sum(
        (i - xbar) * (d - ybar) for i, d in enumerate(durs)
    ) / max(sum((i - xbar) ** 2 for i in range(n)), 1e-9)
    print(
        {
            "bits": bits,
            "bits_per_table": bits_per_table,
            "sig_engine": sig_engine,
            "n_vecs": n_vecs,
            "n_batches": n,
            "n_pairs": n_pairs,
            "total_sec": round(elapsed, 1),
            "batch_ms_first_quartile": round(sum(durs[:q]) / q),
            "batch_ms_last_quartile": round(sum(durs[-q:]) / q),
            "slope_ms_per_batch": round(slope, 1),
            "load_1m": round(os.getloadavg()[0], 1),
        },
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
