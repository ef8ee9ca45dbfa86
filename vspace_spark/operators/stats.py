"""Term-statistics operators — the reference's flagship capability.

The reference pipeline (reference: vspace/pipelines/base.py:380-437):
corpus → normalize → tokenize → n-gram histogram (Python Counter inside
RDD lambdas) → vocabulary gate (broadcast DAWG probed in Python) →
explode → groupBy → {document_frequency, term_frequency, tdsum}.

Rebuild shape (all DataFrame, Catalyst-visible):

  scan → column expressions (normalize/tokenize/everygrams, zero
  shuffles) → explode → [broadcast semi-join vocab gate] → hash
  aggregation (doc, token) for per-doc tf → hash aggregation per
  grouping. Both aggregations partial-combine map-side; the heavy
  exploded stream is reduced before it hits the wire wherever documents
  repeat tokens.

Semantics (reference: vspace/pipelines/base.py:192-208):
- document_frequency = number of (doc[, source]) rows containing token
- term_frequency     = Σ tf
- tdsum              = Σ wc over docs CONTAINING the token (not corpus
  total — SURVEY.md §1.4 quirk 5, preserved)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vspace_spark.functions.kernels import (
    hash_tokens,
    in_sorted,
    row_histogram,
    rot_xor,
)
from vspace_spark.functions.text import (
    DOCID_PATTERN,
    everygrams_col,
    normalize_col,
    tokenize_col,
)

# Injectable text-processing stages (EP2 parity — the reference's
# process_corpus(normalizer=, tokenizer=) API, vspace/pipelines/
# base.py:155-157; the reference declared but ignored the tokenizer
# parameter, SURVEY.md §1.4 quirk 2 — honored here).
ColumnFn = Callable[[Column], Column]


def tokenized_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
    normalize: bool = False,
    vocabulary: DataFrame | None = None,
    normalizer: ColumnFn | None = None,
    tokenizer: ColumnFn | None = None,
) -> DataFrame:
    """Corpus → one row per (doc, n-gram) with per-doc tf and wc.

    Output: ``[<id_col>, *extra_cols, wc: int, token: string, tf: int]``.
    ``wc`` counts unigrams (the reference's word count,
    vspace/pipelines/base.py:141-142).

    ``normalizer`` / ``tokenizer`` inject alternative Column → Column
    stages (e.g. ``normalize_nfc_udf`` for non-ASCII corpora); defaults
    are the built-in codegen'd ``normalize_col`` / ``tokenize_col``.
    Passing ``normalizer`` implies normalization regardless of the
    ``normalize`` flag.

    Shape: explode the flat n-gram array, then ONE hash aggregation on
    (doc, token) for per-doc tf. Spark's partial aggregation combines
    map-side; the alternative per-row histogram (functions.text.
    histogram) avoids that shuffle but costs O(distinct × grams) string
    compares per row in interpreted HOF evaluation — measured 2× slower
    end-to-end on the bench corpus, and quadratic in document length.
    """
    from vspace_spark.operators.scale import rebalance_for_compute

    # tokenize+explode is compute-bound (O(tokens · max_n) per byte):
    # spread a scan that packed the corpus into few IO-sized partitions
    # before doing that work (measured 8.8× on the 10×-replica bench
    # corpus). min_bytes=0: unlike the 3-shingle dedup builders, the
    # up-to-6-gram explode costs tens of seconds per MB single-task —
    # the repartition pays for itself at ANY input size (measured r4:
    # the default 4 MB floor cost term_stats_ngram +40% at sf0.1 and
    # 12× on the baseline pipeline's dictionary phase)
    docs = rebalance_for_compute(docs, min_bytes=0)
    if normalizer is not None:
        text = normalizer(F.col(text_col))
    elif normalize:
        text = normalize_col(text_col)
    else:
        text = F.col(text_col)
    tokens = (tokenizer or tokenize_col)(text)
    ex = docs.select(
        id_col,
        *extra_cols,
        F.size(tokens).alias("wc"),
        F.explode(everygrams_col(tokens, min_n, max_n)).alias("token"),
    )
    # P5 — drop synthetic doc-counter tokens (reference: base.py:378,386).
    ex = ex.filter(~F.col("token").rlike(DOCID_PATTERN))
    if vocabulary is not None:
        # gate BEFORE the aggregation, exactly where the reference
        # probed its broadcast DAWG during generation (base.py:385-389):
        # dropped multi-grams must never reach the shuffle. Gating after
        # the per-doc agg measured 4× slower end-to-end at 6-gram scale.
        ex = vocab_gate(ex, vocabulary)
    return ex.groupBy(id_col, *extra_cols, "wc", "token").agg(
        F.count("*").alias("tf")
    )


def vocab_gate(tokens: DataFrame, vocabulary: DataFrame) -> DataFrame:
    """J3 — the reference's DAWG gate (vspace/pipelines/base.py:385-389)
    as a broadcast LEFT SEMI join: unigrams always pass, multi-grams
    pass only if ``vocabulary`` holds them."""
    multi = F.col("token").contains(" ")
    return tokens.filter(~multi).unionByName(
        tokens.filter(multi).join(
            F.broadcast(vocabulary.select("token")), "token", "left_semi"
        )
    )


MEASURES = ("document_frequency", "term_frequency", "tdsum")


def _measure_aggs() -> list[Column]:
    """The three A1 measures over per-document ``tf``/``wc`` rows."""
    return [
        F.count("*").alias("document_frequency"),
        F.sum("tf").alias("term_frequency"),
        F.sum("wc").alias("tdsum"),
    ]


def compute_stats(doc_tokens: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """A1 — hash aggregation over (token[, *group_cols])
    (reference: vspace/pipelines/base.py:192-208) of one row per
    (document, token) with its ``tf`` and the document's ``wc``. Every
    term-statistics lane ends here, except ``term_stats_pandas``, which
    applies the same ``_measure_aggs`` to hashed token ids.

    Input is ``tokenized_documents`` output (or anything with
    token/tf/wc). One shuffle; partial aggregation map-side.
    """
    return doc_tokens.groupBy("token", *group_cols).agg(*_measure_aggs())


def term_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
    vocabulary: DataFrame | None = None,
    normalizer: ColumnFn | None = None,
    tokenizer: ColumnFn | None = None,
) -> DataFrame:
    """End-to-end: corpus → [vocab-gated] n-gram term statistics.

    ``vocabulary`` (a ``[token]`` DF) replaces the reference's broadcast
    DAWG with a broadcast LEFT SEMI join (J3): same gate — multi-grams
    must be in vocabulary, unigrams always pass
    (reference: vspace/pipelines/base.py:385-389) — but distributed by
    Catalyst instead of collected to the driver. This removes the
    reference's 64 GB driver.maxResultSize requirement
    (reference: conf/spark-defaults.conf:38).

    ``normalizer``/``tokenizer`` are the reference's injectable
    ``process_corpus`` stages (vspace/pipelines/base.py:155-157).
    """
    toks = tokenized_documents(
        docs,
        text_col,
        id_col,
        group_cols,
        min_n=min_n,
        max_n=max_n,
        vocabulary=vocabulary,
        normalizer=normalizer,
        tokenizer=tokenizer,
    )
    return compute_stats(toks, group_cols)


def process_corpus(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "document_index",
    min_n: int = 1,
    max_n: int = 1,
    normalizer: ColumnFn | None = None,
    tokenizer: ColumnFn | None = None,
    vocabulary: DataFrame | None = None,
) -> DataFrame:
    """EP2 composition entry point — the reference's de-facto library
    API ``process_corpus(corpus, normalizer=, tokenizer=, ngram_counter=)``
    (vspace/pipelines/base.py:155-189), re-expressed over DataFrames:
    ``load_raw_corpus → process_corpus → compute_stats``. The n-gram
    counting stage is the exploded (doc, token, tf, wc) form rather
    than an injectable Counter — the part whose physical shape Catalyst
    must own (SURVEY.md §7); custom normalization/tokenization inject
    as Column functions, defaulting to the reference's semantics.
    """
    return tokenized_documents(
        corpus,
        text_col=text_col,
        id_col=id_col,
        min_n=min_n,
        max_n=max_n,
        normalize=normalizer is None,
        vocabulary=vocabulary,
        normalizer=normalizer,
        tokenizer=tokenizer,
    )


def doc_term_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """Exploded per-document n-gram counts (FIXTURES.md `tokenized`
    shape): ``[doc_id, token, tf]``."""
    return tokenized_documents(docs, text_col, id_col, min_n=min_n, max_n=max_n).select(
        id_col, "token", "tf"
    )


def term_stats_pandas(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """Fastest term-statistics path: tokenize + hash + histogram all
    inside the Python worker from RAW TEXT.

    The Arrow input is the text itself (≈ corpus size); everything
    after is vectorized numpy:
    ``pd.util.hash_array`` (SipHash, fixed key — deterministic across
    processes) over the flat token array, n-gram ids as rotate-xor
    chains with document-boundary masks, sorted-membership gate, one
    lexsort histogram per batch. The dictionary's ids are computed
    driver-side with the SAME kernels (``functions/kernels.py``), so
    gate and late materialization stay consistent — no JVM hashing
    anywhere.

    Same output/semantics as ``term_stats`` (equivalence-tested).
    """
    import numpy as np

    # dictionary ids via the same numpy scheme, computed on the driver
    # bounded-collect: vocabulary-sized (dictionary, not corpus)
    dict_pdf = dictionary.select("token").toPandas()
    parts = dict_pdf["token"].str.split(" ")
    max_words = parts.map(len).max() if len(parts) else 1
    word_cols = [
        np.array(
            [p[i] if len(p) > i else None for p in parts], dtype=object
        )
        for i in range(max_words)
    ]
    tid = hash_tokens(word_cols[0])
    for i in range(1, max_words):
        has = np.array([w is not None for w in word_cols[i]])
        if not has.any():
            continue
        nxt = hash_tokens(np.where(has, word_cols[i], ""))
        tid = np.where(has, rot_xor(tid, nxt), tid)
    dict_pdf["tid"] = tid
    vocab_ids = np.sort(tid)
    # persist the plain frame; the broadcast hint goes on the join site
    # below — hinting here and then persisting swallows the hint
    # (HintErrorLogger: "not part of a join relation")
    dict_df = docs.sparkSession.createDataFrame(
        dict_pdf[["token", "tid"]]
    ).persist()

    group_fields = ", ".join(f"{c} string" for c in group_cols)
    out_schema = (
        f"{id_col} long, "
        + (group_fields + ", " if group_fields else "")
        + "wc int, tid long, tf int"
    )
    gcols = tuple(group_cols)
    lo, hi = min_n, max_n

    def stats_from_text(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n_rows = len(pdf)
            if not n_rows:
                continue
            tok_lists = pdf[text_col].map(lambda s: s.split())
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=n_rows
            )
            total = int(lens.sum())
            if not total:
                continue
            flat = np.empty(total, dtype=object)
            pos = 0
            for t in tok_lists:
                flat[pos : pos + len(t)] = t
                pos += len(t)
            th = hash_tokens(flat)
            row_of_tok = np.repeat(np.arange(n_rows, dtype=np.int64), lens)

            gram_rows, gram_ids = [], []
            chain = th
            for n in range(1, hi + 1):
                if n > 1:
                    chain = rot_xor(chain[:-1], th[n - 1 :])
                if n < lo:
                    continue
                if n == 1:
                    rows_n, ids_n = row_of_tok, chain
                else:
                    valid = row_of_tok[: -(n - 1)] == row_of_tok[n - 1 :]
                    rows_n = row_of_tok[: -(n - 1)][valid]
                    ids_n = chain[valid]
                gram_rows.append(rows_n)
                gram_ids.append(ids_n)
            row_idx = np.concatenate(gram_rows)
            ids = np.concatenate(gram_ids)

            mask = in_sorted(vocab_ids, ids)
            if not mask.any():
                continue
            u_rows, u_ids, tf = row_histogram(row_idx[mask], ids[mask])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64)[u_rows],
                    **{g: pdf[g].to_numpy()[u_rows] for g in gcols},
                    "wc": lens.astype(np.int32)[u_rows],
                    "tid": u_ids,
                    "tf": tf.astype(np.int32),
                }
            )

    enc = docs.select(id_col, *group_cols, text_col)
    perdoc = enc.mapInPandas(stats_from_text, out_schema)
    # keyed by the hashed id until the dictionary join names the token
    stats = perdoc.groupBy("tid", *group_cols).agg(*_measure_aggs())
    return stats.join(F.broadcast(dict_df), "tid").select(
        "token", *group_cols, *MEASURES
    )


def unigram_dictionary(
    docs: DataFrame, text_col: str = "text", extra_vocab: DataFrame | None = None
) -> DataFrame:
    """Dictionary for ``term_stats_pandas``: distinct corpus unigrams
    (map-side dedup keeps the shuffle tiny — distinct tokens ≪
    occurrences) plus optional vocabulary multi-grams, docid tokens
    excluded."""
    uni = (
        docs.select(
            F.explode(tokenize_col(F.col(text_col))).alias("token")
        )
        .filter(~F.col("token").rlike(DOCID_PATTERN))
        .distinct()
    )
    if extra_vocab is not None:
        uni = uni.unionByName(extra_vocab.select("token")).distinct()
    return uni


def corpus_histograms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """The reference's tokenized-corpus shape: one row per document with
    the n-gram histogram as a MapType column
    ``[<id_col>, wc: int, token_counts: map<string,int>]``
    (reference: vspace/pipelines/base.py:163-189). Kept as the internal/
    interchange form (FIXTURES.md §5 keeps the exploded form for oracle
    checks — map columns don't hash portably)."""
    toks = tokenized_documents(docs, text_col, id_col, min_n=min_n, max_n=max_n)
    return toks.groupBy(id_col, "wc").agg(
        F.map_from_entries(
            # bounded-list: one entry per distinct token of ONE document
            F.collect_list(F.struct("token", "tf"))
        ).alias("token_counts")
    )


def merge_term_stats(*stats: DataFrame) -> DataFrame:
    """Merge independently computed term-statistics tables — the batch
    index-maintenance primitive: all three measures (document_frequency,
    term_frequency, tdsum) are ADDITIVE over disjoint document sets, so
    stats computed per ingest batch / per partition / per day roll up
    with one union + hash aggregation instead of recomputing the corpus
    (the streaming twin maintains the same invariant incrementally,
    streaming/corpus.py). Group keys are inferred as every non-measure
    column, so the merge works for the global, by-source, and any other
    parametric grouping unchanged, and each measure keeps its input's
    nullability. Map-side partial combine applies; the shuffle is keyed
    by token like the flagship itself."""
    df = reduce(DataFrame.unionByName, stats)
    keys = [c for c in df.columns if c not in MEASURES]
    # a sum is nullable even over non-null inputs; the coalesce keeps a
    # non-null measure (document_frequency, a count) non-null
    nullable = {f.name: f.nullable for f in df.schema.fields}
    sums = {
        m: F.sum(m) if nullable[m] else F.coalesce(F.sum(m), F.lit(0))
        for m in MEASURES
    }
    return df.groupBy(*keys).agg(*[sums[m].cast("long").alias(m) for m in MEASURES])


def build_vocabulary(*token_dfs: DataFrame) -> DataFrame:
    """Vocabulary pipeline: union → trim/empty-filter → distinct → id
    (reference: vspace/pipelines/base.py:343-355; filters from
    vspace/lookups/dawg.py:100-103).

    Deterministic ``tokenid`` via rank over token order instead of the
    reference's ``monotonically_increasing_id`` (SURVEY.md §7 risks),
    computed with TWO-PHASE numbering so no single task ever sees the
    whole vocabulary (a bare ``Window.orderBy`` would funnel every
    distinct token through one reducer — the scale-killer at a 100 TB
    corpus with 10^8+ distinct grams):

    1. ``repartitionByRange`` on token gives a global sort order across
       partitions (partition i's tokens all sort before partition
       i+1's); ``row_number`` windowed BY PARTITION ID numbers rows
       locally, in parallel.
    2. Per-partition counts (one row per partition) roll into
       cumulative offsets on the driver and broadcast-join back —
       the DataFrame analog of ``zipWithIndex``.

    The output is identical to a global ``row_number() - 1`` ordering
    by token. The per-partition counts pass materializes the
    range-partitioned form, so it is persisted and reused for the
    final join (also guarantees partition ids stay stable between the
    two phases). The result comes back persisted and materialized; the
    caller unpersists it.
    """
    from pyspark.sql import Window

    from vspace_spark.operators.scale import KNOWN_SMALL, persist_shared

    df = token_dfs[0].select("token")
    for other in token_dfs[1:]:
        df = df.unionByName(other.select("token"))
    df = (
        df.na.drop()
        .select(F.trim("token").alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    part = df.repartitionByRange("token").withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("token")
    # vocabulary-sized (distinct trimmed tokens, not corpus rows) —
    # MEMORY_AND_DISK by the explicit KNOWN_SMALL claim: language
    # vocabularies saturate in the millions of types while the corpus
    # grows unbounded, so this relation does not scale with input
    local = persist_shared(
        part.withColumn("_rn", F.row_number().over(w)), KNOWN_SMALL
    )
    # bounded-collect: one row per partition (two-phase id numbering)
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["_cnt"]
    off_df = local.sparkSession.createDataFrame(
        offsets, schema="_pid int, _off long"
    )
    # the numbered vocabulary is materialized before the partition-local
    # relation is released, so the caller owns the only cached relation
    # this builds (and unpersists it when done)
    vocabulary = persist_shared(
        local.join(F.broadcast(off_df), "_pid").select(
            "token",
            (F.col("_rn") - 1 + F.col("_off")).cast("int").alias("tokenid"),
        ),
        KNOWN_SMALL,
        eager=True,
    )
    local.unpersist()
    return vocabulary
