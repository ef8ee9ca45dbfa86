"""Round-13: decompose the incremental replay's PER-BATCH fixed cost.

The engine's progress log carries a durationMs breakdown per
micro-batch (addBatch = run the foreachBatch fn, queryPlanning,
getBatch, latestOffset, walCommit, commitOffsets, triggerExecution).
The remaining gap between sum(triggerExecution) and the replay's wall
clock is inter-batch engine/driver idle. This harness runs one leg of
the trilogy at a chosen SF/batch count and prints the decomposition —
the measurement behind the round-13 "per-batch fixed cost" work
(OPTIMIZATION_r13.md, Not-yet-optimized #1).

Each line also carries ``jobs_per_batch_p50``, the median number of
Spark jobs a micro-batch ran (the ``jobs`` field of ``progress_out``).

Run: python scripts/incr_batch_decompose.py [leg] [n_batches] [reps]
     leg in {embedding, minhash, passjoin, embedding_arrow,
     minhash_xxhash64}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vspace_spark.io.tables import load_table
from vspace_spark.session import get_spark


def main() -> None:
    leg = sys.argv[1] if len(sys.argv) > 1 else "embedding"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark("incr-batch-decompose")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from vspace_spark.streaming.incremental import (
        incremental_embedding_dedup,
        incremental_minhash_dedup,
        incremental_passjoin_dedup,
    )

    for rep in range(reps):
        work = f"/tmp/vspace_incr_decomp_{leg}_{n_batches}"
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        progress: list = []
        t0 = time.perf_counter()
        if leg == "embedding" or leg == "embedding_arrow":
            emb = load_table(spark, sf_dir, "embeddings")
            out = incremental_embedding_dedup(
                spark,
                emb,
                bits=32,
                bits_per_table=4,
                threshold=0.4,
                work_dir=work,
                n_input_files=n_batches,
                progress_out=progress,
                sig_engine=(
                    "arrow" if leg == "embedding_arrow" else "fold"
                ),
            )
        elif leg in ("minhash", "minhash_xxhash64"):
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            out = incremental_minhash_dedup(
                spark,
                docs,
                work_dir=work,
                n_input_files=n_batches,
                progress_out=progress,
                hash_engine=(
                    "xxhash64" if leg == "minhash_xxhash64" else "portable"
                ),
            )
        elif leg == "passjoin":
            docs = load_table(spark, sf_dir, "documents")
            out = incremental_passjoin_dedup(
                spark,
                docs,
                work_dir=work,
                n_input_files=n_batches,
                progress_out=progress,
            )
        else:
            raise SystemExit(f"unknown leg {leg}")
        # stop the wall clock BEFORE the post-replay count: out is an
        # eager localCheckpoint read of the accreted pairs index, and
        # charging its read to `wall` over-attributed it to inter-batch
        # driver idle (gap_sec = wall - sum(triggerExecution)) — the
        # exact bias this harness exists to avoid (ADVICE r13)
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        n = out.count()
        count_sec = time.perf_counter() - t1

        keys = [
            "addBatch",
            "getBatch",
            "latestOffset",
            "queryPlanning",
            "commitOffsets",
            "walCommit",
            "triggerExecution",
        ]
        # progress_out holds one record per data batch
        n_data = len(progress)
        sums = {
            k: sum(p["durationMs"].get(k, 0) for p in progress) for k in keys
        }
        print(
            json.dumps(
                {
                    "rep": rep,
                    "leg": leg,
                    "n_batches_data": n_data,
                    "pairs": n,
                    "wall_sec": round(wall, 2),
                    "sum_triggerExecution_sec": round(
                        sums["triggerExecution"] / 1000, 2
                    ),
                    "per_batch_ms": {
                        k: round(sums[k] / max(n_data, 1))
                        for k in keys
                    },
                    "gap_sec": round(
                        wall - sums["triggerExecution"] / 1000, 2
                    ),
                    "jobs_per_batch_p50": statistics.median(
                        p["jobs"] for p in progress
                    ),
                    "count_sec": round(count_sec, 2),
                    "load_1m": round(os.getloadavg()[0], 1),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
