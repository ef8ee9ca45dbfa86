"""Per-row cost of three ways to compute LSH bucket columns, timed in
one warm session over the same vectors:

- ``joined``: the planes as a one-row frame broadcast-cross-joined into
  every row, 32 unrolled ``dot()`` folds over ``element_at`` planes;
- ``literal``: ``lsh_signature`` over per-plane literal arrays;
- ``lsh_buckets``: one transform over the tables, planes as a folded
  ``from_json`` literal.

Input: rotated replicas of the sf embeddings (``replicated_embeddings``
from scripts/incremental_embedding_bench.py), 8 tables x 4 bits,
portable planes. Every variant must give the same bucket checksum.
Prints the median build and collect seconds per variant.

Run: SPARK_GRAFT_SF_DIR=<sf dir> python scripts/lsh_bucket_bench.py
     [replicas] [rounds]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from incremental_embedding_bench import replicated_embeddings
from pyspark.sql import functions as F

from vspace_spark.functions.vectors import dot
from vspace_spark.operators.similarity import (
    lsh_buckets,
    lsh_signature,
    portable_hyperplanes,
)
from vspace_spark.session import get_spark

DIM, BPT, N_TABLES = 64, 4, 8


def joined_col():
    tables = []
    for t in range(N_TABLES):
        b = F.lit(0).cast("bigint")
        for j in range(BPT):
            plane = F.element_at("_planes", t * BPT + j + 1)
            b = b + F.when(
                dot(F.col("_v"), plane) > 0, F.lit(2**j).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        tables.append(F.struct(F.lit(t).alias("tbl"), b.alias("bucket")))
    return F.explode(F.array(*tables)).alias("_tb")


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("lsh-bucket-bench", shuffle_partitions=8)
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    emb = (
        replicated_embeddings(spark, sf_dir, replicas)
        .select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .repartition(8)
        .cache()
    )
    n_vecs = emb.count()
    planes = portable_hyperplanes(DIM, BPT * N_TABLES)

    def build(name: str):
        if name == "joined":
            pl = spark.createDataFrame(
                [(planes,)], "_planes array<array<double>>"
            )
            return emb.crossJoin(F.broadcast(pl)).select("_id", joined_col())
        if name == "literal":
            sigs = [
                F.struct(
                    F.lit(t).alias("tbl"),
                    lsh_signature(
                        F.col("_v"), planes[t * BPT : (t + 1) * BPT]
                    ).alias("bucket"),
                )
                for t in range(N_TABLES)
            ]
            return emb.select("_id", F.explode(F.array(*sigs)).alias("_tb"))
        col = lsh_buckets(F.col("_v"), planes, BPT, N_TABLES)
        return emb.select("_id", F.explode(col).alias("_tb"))

    names = ["joined", "literal", "lsh_buckets"]
    build_s = {k: [] for k in names}
    collect_s = {k: [] for k in names}
    checksums = {}
    for rnd in range(rounds + 1):  # round 0 warms the JIT
        for name in names[rnd % 3 :] + names[: rnd % 3]:
            t0 = time.perf_counter()
            df = build(name)
            t1 = time.perf_counter()
            r = df.select(
                F.bit_xor(F.xxhash64("_id", "_tb.tbl", "_tb.bucket")),
                F.count("*"),
            ).first()
            t2 = time.perf_counter()
            checksums.setdefault(name, tuple(r))
            assert checksums[name] == tuple(r), name
            if rnd:
                build_s[name].append(t1 - t0)
                collect_s[name].append(t2 - t1)
    assert len(set(checksums.values())) == 1, checksums
    print(
        json.dumps(
            {
                "n_vecs": n_vecs,
                "rounds": rounds,
                "build_median_s": {
                    k: round(statistics.median(v), 3) for k, v in build_s.items()
                },
                "collect_median_s": {
                    k: round(statistics.median(v), 3)
                    for k, v in collect_s.items()
                },
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
