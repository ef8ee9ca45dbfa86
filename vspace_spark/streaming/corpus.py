"""Incremental term statistics: the reference's flagship A1 aggregate
(document_frequency / term_frequency / tdsum per token,
vspace/pipelines/base.py:192-208) maintained over a DOCUMENT STREAM.

The batch reference recomputes stats from scratch per run; here the
same semantics run as one Structured Streaming aggregation, so a
corpus that grows (crawl output, ingestion feed) keeps its term
statistics current without reprocessing history.

Shape: the per-document token histogram is computed INSIDE the row
(functions.text.histogram — no per-(doc, token) shuffle and, more
importantly, no second streaming aggregation, which Spark restricts),
then exploded, leaving exactly ONE stateful aggregation keyed by
token. State size = vocabulary size, not corpus size — bounded the
same way the batch pipeline's final shuffle is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vspace_spark.functions.kernels import row_histogram
from vspace_spark.functions.text import (
    everygrams_col,
    histogram,
    tokenize_col,
)
from vspace_spark.operators.stats import compute_stats

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file-source stream (stand-in for an
    ingestion feed); handles file- and directory-shaped tables."""
    from vspace_spark.streaming.events import read_table_stream

    return read_table_stream(spark, sf_dir, "documents", DOCUMENTS_SCHEMA)


def streaming_term_stats(
    docs: DataFrame, min_n: int = 1, max_n: int = 1
) -> DataFrame:
    """N-gram term stats as a single streaming aggregation.

    All token work (tokenize, n-gram build, per-doc tf histogram) is
    row-local column expression — Catalyst, not Python — so the only
    stateful operator is the final groupBy(token). Complete/update
    output modes both work; callers running on a finite source use
    complete for batch-identical results. ``wc`` counts unigrams (the
    reference's word count) regardless of the gram range, matching
    operators/stats.py:tokenized_documents.
    """
    # The streaming analogue of rebalance_for_compute (guide §2 — r13):
    # a file-source micro-batch arrives in IO-sized partitions (ONE
    # partition for a single-file fixture table), but the per-row
    # histogram below is compute-bound O(tokens · max_n) interpreted
    # HOF work — measured 59.7 s single-task for the 1..2-gram variant
    # at sf0.1 vs 0.8 s for the batch twin on 32 cores. Spreading each
    # micro-batch to the cluster's parallelism moves only the raw
    # document bytes (narrow, batch-sized) and leaves the stateful
    # token aggregation untouched; at 100 TB a Kafka/file batch is
    # still IO-partitioned, so the same imbalance exists at every
    # scale. Output is batching- and partitioning-invariant (oracle
    # re-proven at sf0.001/sf0.01 after the change).
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    tokens = tokenize_col("text")
    grams = everygrams_col(tokens, min_n, max_n)
    ex = docs.select(
        F.size(tokens).alias("wc"),
        F.explode(histogram(grams)).alias("h"),
    )
    return compute_stats(ex.select("wc", "h.token", "h.tf"))


def streaming_term_stats_pandas(docs: DataFrame) -> DataFrame:
    """Unigram streaming term stats with the per-doc histogram
    VECTORIZED in an Arrow ``mapInPandas`` stage instead of the
    interpreted ``histogram`` HOF — same single-stateful-agg shape
    (mapInPandas is stateless, so streaming still sees exactly one
    aggregation), same output, ~4× the ingest rate on the bench corpus
    (scripts/streaming_bench.py; the HOF's O(distinct × tokens)
    interpreted compares dominate the hot path, PERF.md).

    The histogram batches: whitespace-split per row, flatten,
    ``pd.factorize`` the flat token array into EXACT integer codes
    (hash-table string equality, C speed, no collision semantics to
    reason about), then the shared per-(row, code) run-length
    histogram (``functions/kernels.py``, shipped by value: executor
    Python workers cannot import vspace_spark when the driver runs
    elsewhere, NOTES.md seam 2).
    """

    def histogram_batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            toks = pdf["text"].str.split()
            wc = toks.map(len).to_numpy(np.int64)
            keep = wc > 0
            if not keep.any():
                continue
            toks, wck = toks[keep], wc[keep]
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks]
            )
            row_idx = np.repeat(np.arange(len(wck)), wck)
            codes, uniques = pd.factorize(flat)
            rows, codes, tf = row_histogram(row_idx, codes)
            yield pd.DataFrame(
                {
                    "token": uniques.take(codes),
                    "tf": tf,
                    "wc": wck[rows],
                }
            )

    # same micro-batch rebalance as streaming_term_stats (guide §2):
    # the vectorized histogram is still compute-bound per task, and a
    # single-file batch otherwise runs it on one core
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return compute_stats(
        docs.mapInPandas(histogram_batches, "token string, tf long, wc long")
    )
