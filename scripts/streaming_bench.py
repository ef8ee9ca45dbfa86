"""Streaming-throughput measurement for the incremental flagship.

The batch reference recomputes term statistics per run; this repo
maintains them incrementally (streaming/corpus.py). This script
measures that path at corpus scale: the replicated baseline corpus
(written by bench.py's baseline phase, which scripts/baseline_bench.py
runs; 64 parquet files) replayed as a
rate-limited file stream (``maxFilesPerTrigger`` files per
micro-batch), through the SAME single stateful aggregation the
registered ``stream_term_stats`` query uses, into a memory sink in
complete mode. Reports GB/h over the logical text size, micro-batch
count, and — the point — exact parity of the final incremental state
with a from-scratch batch computation over the same corpus.

Usage: python scripts/streaming_bench.py [target_gb] [files_per_trigger]
[hof|pandas] (requires the sf0.1 corpus for target_gb to exist in the
baseline cache).
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import types as T

from vspace_spark.session import get_spark
from vspace_spark.streaming.corpus import (
    streaming_term_stats,
    streaming_term_stats_pandas,
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("document_index", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def main() -> None:
    target_gb = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    per_trigger = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    mode = sys.argv[3] if len(sys.argv) > 3 else "hof"
    agg = streaming_term_stats if mode == "hof" else streaming_term_stats_pandas
    # the replicated corpus bench.py:baseline_gb_per_hour caches
    corpus_path = os.path.join(
        "/tmp/bench_baseline_corpus", f"corpus_sf0.1_5000_{target_gb}gb.parquet"
    )
    if not os.path.exists(corpus_path):
        raise SystemExit(
            f"corpus missing: {corpus_path} — run "
            f"scripts/baseline_bench.py {target_gb} first"
        )

    spark = get_spark("streaming-bench")
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", str(per_trigger))
        .load(corpus_path)
    )
    name = f"sbench_{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    q = (
        agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [
            p["numInputRows"]
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
    finally:
        q.stop()
    elapsed = time.perf_counter() - t0

    streamed = spark.table(name)
    # Parity reference: for mode=pandas at >1 GB, re-running the
    # interpreted-HOF batch would dominate wall-clock (15 GB/h); the
    # CROSS-IMPLEMENTATION check (pandas stream vs HOF batch) is
    # established at 1 GB — larger runs verify stream-vs-batch with
    # the same aggregation implementation.
    batch_agg = (
        streaming_term_stats
        if (mode == "hof" or target_gb <= 1)
        else streaming_term_stats_pandas
    )
    batch = batch_agg(spark.read.parquet(corpus_path))
    mismatch = streamed.exceptAll(batch).count() + batch.exceptAll(
        streamed
    ).count()

    print(
        json.dumps(
            {
                "metric": "streaming_term_stats_gb_per_hour",
                "mode": mode,
                "value": round(target_gb / (elapsed / 3600), 2),
                "unit": "GB/h",
                "corpus_gb": target_gb,
                "elapsed_sec": round(elapsed, 1),
                "micro_batches": len(batches),
                "rows_per_batch": batches[:3],
                "files_per_trigger": per_trigger,
                "state_rows": streamed.count(),
                "batch_parity_mismatches": mismatch,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
