"""Equivalence: dictionary-encoded term stats (``term_stats_pandas``)
== string-path term stats."""

from __future__ import annotations

from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.operators.stats import term_stats, unigram_dictionary


def _norm(df):
    return {
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    }


def test_pandas_path_equals_string_path(spark, sf_dir):
    from vspace_spark.operators.stats import term_stats_pandas

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        term_stats(docs, min_n=2, max_n=2)
        .filter(F.col("document_frequency") >= 20)
        .select("token")
    )
    dictionary = unigram_dictionary(docs, extra_vocab=vocab)
    got = term_stats_pandas(
        docs, dictionary, group_cols=["source"], min_n=1, max_n=2
    )
    want = term_stats(
        docs, group_cols=["source"], min_n=1, max_n=2, vocabulary=vocab
    )
    assert _norm(got) == _norm(want)


def test_pandas_path_equals_string_path_ungated_trigram(spark, sf_dir):
    from vspace_spark.operators.stats import term_stats_pandas, tokenized_documents

    docs = load_table(spark, sf_dir, "documents")
    all_grams = tokenized_documents(docs, min_n=1, max_n=3).select(
        "token"
    ).distinct()
    got = term_stats_pandas(docs, all_grams, min_n=1, max_n=3)
    want = term_stats(docs, min_n=1, max_n=3)
    assert _norm(got) == _norm(want)
