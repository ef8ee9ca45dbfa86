"""Config-driven end-to-end corpus job — the reference's CLI surface
(EP1, SURVEY.md §3) rebuilt Spark-first.

Reference flow (vspace/pipelines/base.py:306-441): INI config →
vocabulary (phrases ∪ collections → distinct → id → CSV) → corpus
(sentinel-delimited text → normalize → tokenize → n-grams, gated by a
driver-collected broadcast DAWG) → metadata joins (index ⋈ src2sub) →
global + per-source term statistics → CSV sinks.

Rebuild differences (all conscious, SURVEY.md §1.4/§4):
- vocabulary gate = broadcast LEFT SEMI join (no driver collect, no
  64 GB maxResultSize);
- n-gram bounds exact/inclusive (reference emitted max+1);
- ids deterministic (row_number, not monotonically_increasing_id);
- outputs parquet by default, tab-CSV behind ``output_format=csv``.

INI keys (compatible subset of the reference's job.conf):
  [job] stagingloc, corpus, index2doc, src2sub, phrases, collections,
        maxngrams, splits, outputFolder, output_format
"""

from __future__ import annotations

import configparser
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from vspace_spark.functions.text import normalize_col
from vspace_spark.io import sinks, sources
from vspace_spark.operators.scale import TOKEN_STREAM_EXPANSION, persist_shared
from vspace_spark.operators.stats import (
    MEASURES,
    build_vocabulary,
    merge_term_stats,
    term_stats,
)


@dataclass
class JobConfig:
    stagingloc: str
    corpus: str
    index2doc: str
    src2sub: str
    phrases: str
    collections: str
    output_folder: str
    maxngrams: int = 3
    splits: int | None = None
    output_format: str = "parquet"

    @classmethod
    def from_ini(cls, path: str) -> "JobConfig":
        cp = configparser.ConfigParser()
        with open(path) as fh:
            cp.read_file(fh)
        job = cp["job"]
        staging = job.get("stagingloc", "")

        def p(key: str) -> str:
            v = job.get(key, "")
            return v if os.path.isabs(v) else os.path.join(staging, v)

        return cls(
            stagingloc=staging,
            corpus=p("corpus"),
            index2doc=p("index2doc"),
            src2sub=p("src2sub"),
            phrases=p("phrases"),
            collections=p("collections"),
            output_folder=p("outputFolder"),
            maxngrams=job.getint("maxngrams", 3),
            splits=job.getint("splits", 0) or None,
            output_format=job.get("output_format", "parquet"),
        )


def run_job(
    spark: SparkSession,
    config: JobConfig,
    metrics_out: dict[str, float] | None = None,
) -> dict[str, str]:
    """Execute the full job; returns the map of output name → path.

    ``metrics_out``, if given, is filled with pipeline observability
    counters (docs scanned, characters normalized, vocabulary size,
    stats rows) collected via ``DataFrame.observe`` — they ride the
    existing write actions, costing ZERO extra jobs, unlike the
    reference's separate ``count()`` passes. The modern replacement
    for C1-style job-group bookkeeping at 100 TB, where a stray
    count() is a full corpus scan.
    """
    if config.splits:
        spark.conf.set("spark.sql.shuffle.partitions", str(config.splits))

    sc = spark.sparkContext
    out: dict[str, str] = {}

    def sink(df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        path = os.path.join(config.output_folder, name)
        if config.output_format == "csv":
            sinks.write_csv(df, path, partition_by=partition_by)
        else:
            sinks.write_parquet(df, path, partition_by=partition_by)
        out[name] = path

    # --- vocabulary phase (reference: base.py:341-371) ---
    sc.setJobGroup("vocabulary", "phrases ∪ collections → distinct → id")
    phrases = sources.load_phrases(spark, config.phrases)
    collections = sources.load_collections(spark, config.collections)
    vocabulary = build_vocabulary(phrases, collections)
    sink(vocabulary, "vocabulary")

    # --- corpus phase (reference: base.py:373-397) ---
    sc.setJobGroup("corpus", "sentinel-split corpus → normalize")
    corpus = sources.load_raw_corpus(spark, config.corpus)
    corpus_obs = Observation("corpus")
    normalized = (
        corpus.select(
            "document_index", normalize_col("text").alias("text")
        )
        .observe(
            corpus_obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("normalized_chars"),
        )
        .persist()
    )
    sink(
        normalized.select(
            F.concat_ws("\t", "document_index", "text").alias("value")
        ),
        "normalized_corpus",
    )

    # --- metadata phase (reference: base.py:399-416) ---
    sc.setJobGroup("metadata", "index ⋈ src2sub")
    index = sources.load_index(spark, config.index2doc)
    src2sub = sources.load_sources(spark, config.src2sub)

    # --- stats phase (reference: base.py:418-437) ---
    # The reference counts each (document, source) row of index ⋈
    # src2sub. Every measure is additive over documents, so the corpus
    # is tokenized once, aggregated per (token, subsource list), and both
    # tables roll up from that: the list keeps the index's multiplicity
    # (a subsource listed twice counts its document twice, as the join
    # does) and is null for a document without an index row, which then
    # counts in global_stats only.
    sc.setJobGroup("stats", "global + per-source term statistics")
    subsources = index.groupBy("document_index").agg(
        # bounded-list: one entry per index row of ONE document
        F.sort_array(F.collect_list("subsource")).alias("subsources")
    )
    per_key = persist_shared(
        term_stats(
            normalized.join(subsources, "document_index", "left"),
            id_col="document_index",
            group_cols=["subsources"],
            max_n=config.maxngrams,
            vocabulary=vocabulary,
        ),
        # the aggregate is at most the gated token stream of the
        # normalized text, which the corpus sink has just measured
        int(TOKEN_STREAM_EXPANSION * (corpus_obs.get["normalized_chars"] or 0)),
    )
    stats_obs = Observation("global_stats")
    global_stats = merge_term_stats(per_key.drop("subsources")).observe(
        stats_obs,
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("term_frequency").alias("total_term_occurrences"),
    )
    sink(global_stats, "global_stats")
    source_stats = merge_term_stats(
        per_key.select(
            "token", F.explode("subsources").alias("subsource"), *MEASURES
        )
        .join(F.broadcast(src2sub), "subsource")
        .select("token", F.explode("sources").alias("source"), *MEASURES)
    )
    sink(source_stats, "source_stats", partition_by=["source"])

    per_key.unpersist()
    vocabulary.unpersist()
    normalized.unpersist()
    if metrics_out is not None:
        metrics_out.update(corpus_obs.get)
        metrics_out.update(stats_obs.get)
    return out
