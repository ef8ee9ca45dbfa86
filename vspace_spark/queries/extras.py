"""Overflow registrations: variants of operators whose primary name
is already in the driver's checked window — xxhash64 hot paths of the
portable-hash queries, and the fixed-codebook IVF twin. Imported LAST
by ``load_all`` so these sit outside the driver's first-50 window by
design; their evidence is the local parity/recall suite (which runs
the SAME oracle comparison for the entries here that carry one)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from vspace_spark.queries import query


@query("dedup_minhash_lsh_fast")  # xxhash64 signatures — no SQL twin
def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands) with xxhash64 signatures — the
    100 TB hot path (one JVM hash instruction per seed vs md5's string
    digest). Same plan shape as the portable ``dedup_minhash_lsh``;
    recall vs exact Jaccard is asserted in tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, shingle_n=3, num_hashes=64, bands=16)
    return pairs.select(
        "a", "b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


@query("ann_lsh_top5_fast")  # xxhash64-derived hyperplanes — no SQL twin
def ann_lsh_top5_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified LSH top-5 with the xxhash64-derived hyperplane
    table — kept for plane-source parity with the JVM hot path; the
    md5-portable oracle-checked twin holds ``ann_lsh_top5``."""
    from vspace_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb.filter(F.col("vec_id") < 10), emb, spark, k=5, bits=4, tables=8
    )


@query(
    "ann_ivf_fixed_top5",
    oracle="""
WITH c AS (
  SELECT b.b AS cell,
         list_transform(range(0, 64),
           i -> ('0x' || substr(md5('c' || b.b::VARCHAR || ':'
                 || i::VARCHAR), 1, 13))::BIGINT
                / 2251799813685248.0 - 1) AS cv
  FROM (SELECT unnest(range(16)) AS b) b
),
d AS (
  SELECT e.vec_id, c.cell,
         list_sum(list_transform(range(1, 65),
           i -> (e.embedding[i]::DOUBLE - c.cv[i])
                * (e.embedding[i]::DOUBLE - c.cv[i]))) AS dist
  FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
             AS rn
  FROM d
),
assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id, cell FROM ranked WHERE rn <= 4
           AND vec_id < 10),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON p.cell = a.cell
  WHERE a.vec_id != p.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_sum(list_transform(range(1, len(qe.embedding) + 1),
                  i -> qe.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(qe.embedding,
                  v -> v::DOUBLE * v::DOUBLE)))
            * sqrt(list_sum(list_transform(ce.embedding,
                  v -> v::DOUBLE * v::DOUBLE)))) AS cos
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         (row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id))::INT
             AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_ivf_fixed_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a FIXED md5-derived codebook (16 cells, 4 probes)
    instead of KMeans-trained centroids: every assignment, probe, and
    rank is reproducible in ANSI SQL, putting the inverted-file
    machinery itself under the value-hash oracle gate. The KMeans
    variant (`ann_ivf_top5`) remains the recall-quality path."""
    from vspace_spark.io.tables import load_table
    from vspace_spark.operators.similarity import (
        ivf_topk,
        portable_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        n_cells=16,
        n_probe=4,
        centers=portable_hyperplanes(64, 16, salt="c"),
    )


@query(
    "stream_dedup_embeddings",
    oracle="""
WITH p AS (
  SELECT b.b AS bit,
         list_transform(range(0, 64),
           i -> ('0x' || substr(md5(b.b::VARCHAR || ':' || i::VARCHAR),
                 1, 13))::BIGINT / 2251799813685248.0 - 1) AS plane
  FROM (SELECT unnest(range(32)) AS b) b
),
sigs AS (
  SELECT e.vec_id, p.bit // 4 AS tbl,
         sum(CASE WHEN list_sum(list_transform(
                    range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * p.plane[i])) > 0
             THEN 1 << (p.bit % 4) ELSE 0 END)::BIGINT AS bucket
  FROM embeddings e CROSS JOIN p GROUP BY e.vec_id, p.bit // 4
),
pairs AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM sigs x JOIN sigs y ON x.tbl = y.tbl AND x.bucket = y.bucket
  WHERE x.vec_id < y.vec_id
),
sc AS (
  SELECT pairs.a, pairs.b,
         list_sum(list_transform(range(1, len(x.embedding) + 1),
                  i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(x.embedding,
                  v -> v::DOUBLE * v::DOUBLE)))
            * sqrt(list_sum(list_transform(y.embedding,
                  v -> v::DOUBLE * v::DOUBLE)))) AS cos
  FROM pairs
  JOIN embeddings x ON x.vec_id = pairs.a
  JOIN embeddings y ON y.vec_id = pairs.b
)
SELECT a, b, round(cos, 6) AS cos FROM sc WHERE cos >= 0.4
""",
)
def stream_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online embedding near-dup detection AT INGEST: the embedding
    stream joins the static LSH-bucketed corpus on (table, bucket) —
    a stateless stream-static equi-join on a derived key, so each
    arriving vector is checked against only its buckets, never the
    full corpus — then exact cosine confirms (≥ 0.4) and a stateful
    dropDuplicates de-dups pairs surfaced by multiple tables. Fully
    oracle-checked (portable md5 hyperplanes). Production note: the
    pair-dedup state is bounded by a watermark on arrival time; the
    finite replay here needs none.
    """
    from pyspark.sql import types as T

    from vspace_spark.operators.similarity import (
        lsh_buckets,
        portable_hyperplanes,
    )
    from vspace_spark.streaming.events import run_stream_to_memory

    # one bucket column for both sides
    sigs = F.explode(
        lsh_buckets(F.col("embedding"), portable_hyperplanes(64, 32), 4, 8)
    )

    def with_sigs(df, id_alias, vec_alias):
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.col("embedding").alias(vec_alias),
            sigs.alias("s"),
        ).select(id_alias, vec_alias, "s.tbl", "s.bucket")

    # Static-side rebalance (guide §2 — r13): the single-file scan is
    # ONE partition and with_sigs does 32 interpreted 64-dim dot folds
    # per vector — the corpus-sized compute of this query — so the
    # index build ran single-task. Vector rows move once, cheaply.
    static = with_sigs(
        load_table(spark, sf_dir, "embeddings").repartition(
            spark.sparkContext.defaultParallelism
        ),
        "b",
        "_vb",
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    from vspace_spark.streaming.events import read_table_stream

    stream = read_table_stream(spark, sf_dir, "embeddings", schema)
    # Streaming rebalance_for_compute (guide §2 — r13, same shape as
    # streaming_term_stats): the single-file micro-batch arrives in
    # ONE IO-sized partition and the 32-plane interpreted dot folds
    # below otherwise run single-task. Downstream is an equi-join +
    # deterministic-row dropDuplicates — partitioning-invariant.
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    arriving = with_sigs(stream, "a", "_va")
    # norms once per posting row on each side, not three aggregate
    # folds per matched candidate (bit-identical, oracle-pinned)
    from vspace_spark.functions.vectors import cosine_from_norms, l2_norm

    matched = (
        arriving.withColumn("_na", l2_norm(F.col("_va")))
        .join(static.withColumn("_nb", l2_norm(F.col("_vb"))),
              ["tbl", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            cosine_from_norms(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("_c"),
        )
        .filter(F.col("_c") >= 0.4)  # RAW threshold, mirroring the
        # oracle's WHERE cos >= 0.4 — filtering the rounded value
        # would disagree on cosines in [0.3999995, 0.4)
        .select("a", "b", F.round("_c", 6).alias("cos"))
        .dropDuplicates(["a", "b"])
    )
    return run_stream_to_memory(matched, "append")

@query(
    "stream_dedup_embeddings_incremental",
    oracle="""
WITH p AS (
  SELECT b.b AS bit,
         list_transform(range(0, 64),
           i -> ('0x' || substr(md5(b.b::VARCHAR || ':' || i::VARCHAR),
                 1, 13))::BIGINT / 2251799813685248.0 - 1) AS plane
  FROM (SELECT unnest(range(32)) AS b) b
),
sigs AS (
  SELECT e.vec_id, p.bit // 4 AS tbl,
         sum(CASE WHEN list_sum(list_transform(
                    range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * p.plane[i])) > 0
             THEN 1 << (p.bit % 4) ELSE 0 END)::BIGINT AS bucket
  FROM embeddings e CROSS JOIN p GROUP BY e.vec_id, p.bit // 4
),
pairs AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM sigs x JOIN sigs y ON x.tbl = y.tbl AND x.bucket = y.bucket
  WHERE x.vec_id < y.vec_id
),
sc AS (
  SELECT pairs.a, pairs.b,
         list_sum(list_transform(range(1, len(x.embedding) + 1),
                  i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(x.embedding,
                  v -> v::DOUBLE * v::DOUBLE)))
            * sqrt(list_sum(list_transform(y.embedding,
                  v -> v::DOUBLE * v::DOUBLE)))) AS cos
  FROM pairs
  JOIN embeddings x ON x.vec_id = pairs.a
  JOIN embeddings y ON y.vec_id = pairs.b
)
SELECT a, b, round(cos, 6) AS cos FROM sc WHERE cos >= 0.4
""",
)
def stream_dedup_embeddings_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EMBEDDING leg of the accreting-index trilogy (MinHash text,
    PassJoin edit distance, hyperplane-LSH cosine —
    streaming/incremental.py:incremental_embedding_dedup): the vector
    stream replays as an 8-file stream; each micro-batch LSH-buckets
    its vectors, self-joins intra-batch, probes the PERSISTED postings
    of all earlier batches on (table, bucket), confirms with exact
    cosine (>= 0.4), then appends its own postings + vectors. Same
    portable md5 hyperplanes as the stream-static twin
    (``stream_dedup_embeddings``), and the pair set is batch-boundary
    independent — so the IDENTICAL all-pairs oracle checks the union
    over batches exactly."""
    from vspace_spark.io.sinks import keyed_tmp_dir
    from vspace_spark.streaming.incremental import (
        incremental_embedding_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    work = keyed_tmp_dir("vspace_incr_emb", sf_dir)
    return incremental_embedding_dedup(
        spark, emb, bits=32, bits_per_table=4, threshold=0.4,
        work_dir=work,
    )



@query("dedup_simhash_fast")  # xxhash64 bit votes — no SQL twin
def dedup_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit xxhash64) near-dup pairs (Hamming ≤ 7, 8×8-bit
    pigeonhole blocking) — the 100 TB hot path; the md5-portable
    oracle-checked twin holds the primary ``dedup_simhash`` name."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, max_hamming=7, n_chunks=8)


@query(
    "stream_dedup_docs_minhash",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, unnest(range(len(t) - 2)) AS i, t
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         list_aggregate(t[i + 1:i + 3], 'string_agg', ' ') AS shingle
  FROM g
),
seeds AS (SELECT unnest(range(32)) AS seed),
h AS (
  SELECT doc_id, seed,
         min(('0x' || substr(md5(seed::VARCHAR || ':' || shingle), 1, 15))
             ::BIGINT) AS mh
  FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
),
band AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh, ',' ORDER BY seed) AS bucket
  FROM h GROUP BY doc_id, seed // 4
),
p AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM band x JOIN band y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
),
agree AS (
  SELECT p.a, p.b, sum(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) AS k
  FROM p
  JOIN h ha ON ha.doc_id = p.a
  JOIN h hb ON hb.doc_id = p.b AND hb.seed = ha.seed
  GROUP BY p.a, p.b
)
SELECT a, b, round(k / 32.0, 6) AS est_jaccard
FROM agree WHERE k / 32.0 >= 0.5
""",
)
def stream_dedup_docs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online TEXT near-dup detection AT INGEST — the text twin of
    ``stream_dedup_embeddings``: arriving documents are minhash-signed
    (32 md5-portable hashes, 8 bands of 4) and join the STATIC corpus's
    banded bucket index on (band, bucket), so each new document is
    compared only against its candidate buckets, never the corpus;
    signature agreement estimates Jaccard and pairs ≥ 0.5 survive.

    The stream side computes its signature as a PURE COLUMN EXPRESSION
    (``operators.dedup._row_minhash``: ``array_min`` over transformed
    distinct shingles): no streaming aggregation, so the stream-static
    join stays stateless and append-mode needs no watermark
    gymnastics. The static side uses the batch twins' explode +
    per-seed MIN builder (``_minhash_sigs``); both sides take the
    portable family's seed hash and band bucket, so signatures and
    buckets are identical. Batch-equivalent on the
    finite replay → fully oracle-checked (same portable signatures as
    ``dedup_minhash_lsh``, plus the ≥ 0.5 threshold). Production: the
    per-row HOF signature costs num_hashes × |shingles| md5s per
    arriving doc — vectorize in mapInPandas if ingest rate demands;
    the static index is the already-ingested corpus, refreshed
    per-batch or served from a bucketed table.
    """
    from pyspark.sql import types as T

    from vspace_spark.functions.text import ngrams_col, tokenize_col
    from vspace_spark.operators.dedup import (
        _agreement,
        _band_col,
        _banded,
        _minhash_plan,
        _minhash_sigs,
        _row_minhash,
    )
    from vspace_spark.streaming.events import run_stream_to_memory

    num_hashes, bands, rows = 32, 8, 4

    # static index: explode + per-seed MIN aggregation (the scale
    # path), built over the corpus's DISTINCT texts only — the same
    # exact→near collapse as the batch pair generators (identical
    # texts have identical signatures and buckets), with members
    # expanded back after the stream-static join. A k-clone crawl
    # cluster costs k in the expansion join instead of k signature
    # builds + k bucket rows per band.
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.filter(F.size(tokenize_col("text")) >= 3).select(
        F.col("doc_id").alias("b"), "text", F.md5("text").alias("_h")
    )
    canon = keyed.groupBy("_h").agg(F.min("b").alias("_cb"))
    with_c = keyed.join(canon, "_h")
    canon_docs = with_c.filter(F.col("b") == F.col("_cb")).select(
        "b", "text"
    )
    members = with_c.select("_cb", F.col("b").alias("_mb"))
    # The broadcast canon join leaves canon_docs with the SCAN's
    # partitioning — ONE partition for a single-file table — and the
    # projection below does num_hashes interpreted md5 folds per
    # shingle, the heaviest per-byte work in this query: measured
    # 10.5–15 s single-task vs 2.7–5 s spread at sf0.1 (guide §2;
    # r13). Moving 5 000 canonical rows is the cheap side of that
    # trade at every scale; at warehouse scale the scan arrives in
    # thousands of partitions and the repartition is a cheap rebalance
    # of doc rows before a 32× fan-out of compute.
    canon_docs = canon_docs.repartition(
        spark.sparkContext.defaultParallelism
    )
    static_sigs = _minhash_sigs(
        canon_docs,
        _minhash_plan("portable", "text", 3, num_hashes, id_col="b"),
    ).select(F.col("_id").alias("b"), F.col("sig").alias("_sigb"))
    # materialized BEFORE the stream starts: (1) a stream-static join
    # re-evaluates the static plan every micro-batch — the 450 M-md5
    # signature build must run once, not per trigger; (2) the static
    # estimate for scan→explode→agg descends from the compressed file
    # size, and at the 100×-replica bench the planner broadcast this
    # index and hit the 300 s broadcast TIMEOUT computing it inside
    # the broadcast job — honest InMemoryRelation stats let it pick a
    # shuffle join when the index is genuinely big.
    from vspace_spark.operators.scale import (
        _SLIM_DISK_FLOOR,
        est_relation_bytes,
        persist_shared,
    )

    # sized rows × banded-signature width (docs is a bare scan, so
    # the footer row count is exact): bands rows per canonical doc,
    # each carrying the full sig array + the concat bucket key —
    # corpus-row-scaled, so the shared policy (not a bare heap
    # persist) decides the level at 100× (VERDICT r12 #4/#5)
    static = persist_shared(
        _banded(
            static_sigs,
            _band_col("portable", bands, rows, "_sigb"),
            "b",
            "_sigb",
        ),
        est_relation_bytes(
            docs, row_bytes=bands * (8 * num_hashes + 32 + 12 * rows)
        ),
        eager=True,
    )
    # slim two-long-column member map, the r12 floor A/B's shape
    members = persist_shared(
        members,
        est_relation_bytes(docs, row_bytes=24),
        floor_bytes=_SLIM_DISK_FLOOR,
        eager=True,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    from vspace_spark.streaming.events import read_table_stream

    stream = read_table_stream(spark, sf_dir, "documents", schema)
    # The streaming analogue of rebalance_for_compute (guide §2 —
    # r13, same shape as streaming_term_stats): a single-file
    # micro-batch arrives in ONE IO-sized partition, and the per-row
    # signature below is num_hashes × |shingles| interpreted md5
    # folds — measured 48.7 s nearly single-task at sf0.1. Spreading
    # the batch moves only raw document rows; every downstream
    # operator is set-semantics (equi-join + dropDuplicates on a
    # deterministic row), so the output is partitioning-invariant.
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    # Shingle set hoisted into its own projection so the 32 per-seed
    # array_min transforms share ONE tokenize→ngrams→distinct
    # evaluation (guide §2.3 "project early"): CollapseProject leaves
    # a non-cheap alias consumed 32× in its own Project, where the
    # inline form re-derived the array per hash on the interpreted
    # HOF path.
    pre = stream.filter(F.size(tokenize_col("text")) >= 3).select(
        F.col("doc_id").alias("a"),
        F.array_distinct(ngrams_col(tokenize_col("text"), 3)).alias(
            "_sh"
        ),
    )
    arriving = _banded(
        pre.select(
            "a",
            _row_minhash("portable", F.col("_sh"), num_hashes).alias("_siga"),
        ),
        _band_col("portable", bands, rows, "_siga"),
        "a",
        "_siga",
    )
    agree = _agreement("_siga", "_sigb")
    matched = (
        arriving.join(static, ["band", "bucket"])
        .select("a", "b", (agree / F.lit(num_hashes)).alias("_e"))
        .filter(F.col("_e") >= 0.5)  # raw threshold, mirroring the
        # oracle's WHERE k/32 >= 0.5 (filter before rounding)
        # dedup multi-band collisions at the CANONICAL level (cheap),
        # then expand each canonical hit to its clone-group members;
        # the a<b order filter must run on member-level pairs (a pair
        # (x,y) surfaces both as x-arrives-vs-c(y) and y-arrives-vs-
        # c(x) during a full replay — exactly one survives a<b)
        .dropDuplicates(["a", "b"])
        .join(members, F.col("b") == F.col("_cb"))
        .select("a", F.col("_mb").alias("b"), "_e")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round("_e", 6).alias("est_jaccard"))
    )
    return run_stream_to_memory(matched, "append")


@query(
    "stream_dedup_docs_incremental",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, unnest(range(len(t) - 2)) AS i, t
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         list_aggregate(t[i + 1:i + 3], 'string_agg', ' ') AS shingle
  FROM g
),
seeds AS (SELECT unnest(range(32)) AS seed),
h AS (
  SELECT doc_id, seed,
         min(('0x' || substr(md5(seed::VARCHAR || ':' || shingle), 1, 15))
             ::BIGINT) AS mh
  FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
),
band AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh, ',' ORDER BY seed) AS bucket
  FROM h GROUP BY doc_id, seed // 4
),
p AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM band x JOIN band y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
),
agree AS (
  SELECT p.a, p.b, sum(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) AS k
  FROM p
  JOIN h ha ON ha.doc_id = p.a
  JOIN h hb ON hb.doc_id = p.b AND hb.seed = ha.seed
  GROUP BY p.a, p.b
)
SELECT b AS doc_id, min(a) AS first_dup_of, count(*)::BIGINT AS n_dups,
       max(k)::INT AS max_agree
FROM agree WHERE k >= 16 GROUP BY b
""",
)
def stream_dedup_docs_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental dedup against a GROWING index (NOTES round-4
    candidate #4): the corpus replays as an 8-file stream, and every
    micro-batch probes the signatures of all EARLIER batches before
    appending its own — so the index accretes across the run instead
    of being built once up front (the stream-static twin,
    ``stream_dedup_docs_minhash``, indexes the full corpus once).
    Output is the per-document ingest verdict: for each document that
    near-duplicates something already ingested, the earliest such
    document, how many earlier near-dups it has, and the best
    signature agreement.

    Exactly oracle-checked because the pair set is batch-boundary
    independent (each qualifying pair surfaces exactly once — index
    probe or intra-batch self-join; ``streaming/incremental.py``), and
    the signatures are the portable md5 60-bit family shared with
    ``dedup_minhash_lsh``. The per-batch parquet index keyed by batch
    id gives idempotent replay, and each probe reads only the earlier
    batches' partitions (the module docstring has the full design).
    """
    from vspace_spark.functions.text import tokenize_col
    from vspace_spark.io.sinks import keyed_tmp_dir
    from vspace_spark.streaming.incremental import incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents").filter(
        F.size(tokenize_col("text")) >= 3
    )
    # fixed keyed work_dir (leak class from ADVICE r3/r4: the
    # operator's uuid default accumulated a dir per call across bench/
    # correctness runs). Re-running over the same dir is exactly the
    # replay case the operator is idempotent under (each batch=<id>
    # subdir is overwritten, proven in test_replayed_batch_is_idempotent).
    work = keyed_tmp_dir("vspace_incr_dedup", sf_dir)
    pairs = incremental_minhash_dedup(
        spark, docs, work_dir=work,
        shingle_n=3, num_hashes=32, bands=8, min_agree=16,
    )
    return pairs.groupBy(F.col("b").alias("doc_id")).agg(
        F.min("a").alias("first_dup_of"),
        F.count("*").alias("n_dups"),
        F.max("agree").cast("int").alias("max_agree"),
    )


@query(
    "stream_dedup_docs_passjoin",
    oracle="""
WITH p AS (
  SELECT doc_id, substr(text, 1, 16) AS pre FROM documents
)
SELECT x.doc_id AS a, y.doc_id AS b,
       levenshtein(x.pre, y.pre)::INT AS dist
FROM p x JOIN p y ON x.doc_id < y.doc_id
WHERE levenshtein(x.pre, y.pre) <= 4
""",
)
def stream_dedup_docs_passjoin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental EDIT-DISTANCE dedup against a growing PassJoin
    segment index (VERDICT r9 #8 — the text analog of
    ``stream_dedup_docs_incremental``'s signature table): the corpus
    replays as an 8-file stream; each micro-batch probes its Lemma-3
    substrings against its own segments and the PERSISTED segments of
    all earlier batches in one join (build once, probe many — the
    index rows are never re-derived), then appends its own segments
    and keys. Exactly oracle-checked because the pair set is
    batch-boundary independent and PassJoin is exact at every key
    length (streaming/incremental.py:incremental_passjoin_dedup has
    the cross-batch completeness argument)."""
    from vspace_spark.io.sinks import keyed_tmp_dir
    from vspace_spark.streaming.incremental import (
        incremental_passjoin_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = keyed_tmp_dir("vspace_incr_pj", sf_dir)
    return incremental_passjoin_dedup(
        spark, docs, key_col="text", key_len=16, max_dist=4,
        work_dir=work,
    )


@query(
    "ann_ivf_pq_top5",
    oracle="""
WITH c AS (
  SELECT b.b AS cell,
         list_transform(range(0, 64),
           i -> ('0x' || substr(md5('c' || b.b::VARCHAR || ':'
                 || i::VARCHAR), 1, 13))::BIGINT
                / 2251799813685248.0 - 1) AS cv
  FROM (SELECT unnest(range(16)) AS b) b
),
seeds AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
             AS cid
  FROM embeddings
),
pc AS (
  SELECT s.s AS sub, seeds.cid,
         list_transform(range(1, 5),
           i -> seeds.embedding[s.s * 4 + i]::DOUBLE) AS pv
  FROM seeds, (SELECT unnest(range(16)) AS s) s
  WHERE seeds.cid < 256
),
d AS (
  SELECT e.vec_id, c.cell,
         list_sum(list_transform(range(1, 65),
           i -> (e.embedding[i]::DOUBLE - c.cv[i])
                * (e.embedding[i]::DOUBLE - c.cv[i]))) AS dist
  FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
             AS rn
  FROM d
),
assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
encd AS (
  SELECT e.vec_id, a.cell, pc.sub, pc.cid,
         list_sum(list_transform(range(1, 5),
           i -> (e.embedding[pc.sub * 4 + i]::DOUBLE - pc.pv[i])
                * (e.embedding[pc.sub * 4 + i]::DOUBLE - pc.pv[i])))
             AS d2
  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
  CROSS JOIN pc
),
enc AS (
  SELECT vec_id, cell, sub, cid FROM (
    SELECT vec_id, cell, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, cid) AS rn
    FROM encd
  ) WHERE rn = 1
),
probes AS (SELECT vec_id, cell FROM ranked
           WHERE rn <= 4 AND vec_id < 10),
adc AS (
  SELECT p.vec_id AS query_id, p.cell, pc.sub, pc.cid,
         list_sum(list_transform(range(1, 5),
           i -> (qe.embedding[pc.sub * 4 + i]::DOUBLE - pc.pv[i])
                * (qe.embedding[pc.sub * 4 + i]::DOUBLE - pc.pv[i])))
             AS d2
  FROM probes p JOIN embeddings qe ON qe.vec_id = p.vec_id
  CROSS JOIN pc
),
cand AS (
  SELECT adc.query_id, enc.vec_id AS neighbor_id,
         sum(CASE WHEN enc.sub = 0 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 1 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 2 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 3 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 4 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 5 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 6 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 7 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 8 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 9 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 10 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 11 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 12 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 13 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 14 THEN adc.d2 END)
       + sum(CASE WHEN enc.sub = 15 THEN adc.d2 END) AS dist
  FROM enc JOIN adc ON adc.cell = enc.cell AND adc.sub = enc.sub
                   AND adc.cid = enc.cid
  WHERE enc.vec_id != adc.query_id
  GROUP BY adc.query_id, enc.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         (row_number() OVER (
            PARTITION BY query_id ORDER BY dist, neighbor_id))::INT
             AS rank
  FROM cand
) WHERE rank <= 5
""",
)
def ann_ivf_pq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.py:ivf_pq_topk): the coarse
    16-cell inverted file of ``ann_ivf_fixed_top5`` plus product
    quantization — 16 subspaces x 256 content-addressed sampled
    centroids, asymmetric-distance scoring from per-query lookup
    tables. The compressed-index path a 100 TB vector store actually
    ships: codes are 16 bytes per vector (32x smaller than the raw
    embeddings, which the query phase never touches). Every argmin,
    code, ADC entry, and rank is exact-in-double and reproduced by the
    oracle; the 16-term distance sum is a fixed-order addition chain
    on both engines (single-element conditional sums), never an
    unordered float aggregation. Recall vs brute force is asserted in
    tests/test_similarity.py (sampled codebook, ~0.56 at fixture
    scale; k-means training would add ~0.12 but is engine-specific —
    that quality lane stays ``ann_ivf_top5``)."""
    from vspace_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


@query("ann_bruteforce_top5_fast")  # BLAS matmul scoring — no SQL twin
def ann_bruteforce_top5_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized brute-force ANN
    (operators/similarity.py:brute_force_topk_arrow): one numpy matmul
    per Arrow batch + partial per-batch top-k + exact JVM merge — the
    batch-scoring hot path for large corpora, where the exact fold
    twin (`ann_bruteforce_top5`) pays interpreted HOF evaluation per
    pair. Rows-only by design (BLAS summation order can flip
    near-ties); tests/test_similarity.py pins agreement with the
    oracle-checked exact path on the fixture."""
    from vspace_spark.operators.similarity import brute_force_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk_arrow(emb.filter(F.col("vec_id") < 10), emb, k=5)


@query("ann_ivf_pq_top5_fast")  # matmul encode + ADC — no SQL twin
def ann_ivf_pq_top5_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF-PQ lifecycle end-to-end: matmul index build
    (`ivf_pq_encode_arrow`) + matmul ADC probe (`ivf_pq_probe_arrow`),
    the pair measured fastest-of-all-paths on the 200k-vector corpus
    (PERF.md). Rows-only by design (BLAS summation order vs the
    relational folds on exact ties); both stages are asserted
    code/rank-identical to the oracle-checked relational twins in
    tests/test_similarity.py, and the relational `ann_ivf_pq_top5`
    carries the family's exact oracle row."""
    from vspace_spark.operators.similarity import (
        ivf_pq_encode_arrow,
        ivf_pq_probe_arrow,
        pq_codebook,
        pq_codebook_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pc_rows = pq_codebook_rows(pq_codebook(emb))
    index = ivf_pq_encode_arrow(emb, pc_rows=pc_rows)
    return ivf_pq_probe_arrow(
        emb.filter(F.col("vec_id") < 10), index, pc_rows, k=5
    )


@query("dedup_semantic_fast")  # matmul assign + Gram scoring — no SQL twin
def dedup_semantic_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SemDeDup path: numpy matmul cell assignment per
    Arrow batch + one Gram matmul per cell in applyInPandas
    (operators/dedup.py:semantic_dedup engine='arrow'), replacing the
    interpreted per-pair cosine folds that are the measured floor of
    the oracle-checked twin (PERF.md round 6). Rows-only by design —
    BLAS summation order can flip near-ties at the threshold or
    between equidistant centroids; tests/test_dedup.py pins full
    output agreement with the oracle-checked `dedup_semantic` on the
    fixture (margins are clear there) and on planted clones. Shares
    the exact-collapse prepass and the K ∝ N codebook sizing
    (greatest(16, N/512)) with the fold twin."""
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.scale import footer_row_count
    from vspace_spark.operators.similarity import portable_hyperplanes

    emb = load_table(spark, sf_dir, "embeddings")
    # K ∝ N from parquet footers — a metadata read, no Spark job at
    # query-construction time (ADVICE r7); count() only as fallback
    n = footer_row_count(emb)
    if n is None:
        n = emb.count()  # bounded-collect: one scalar, sizes the codebook
    return semantic_dedup(
        emb,
        portable_hyperplanes(64, max(16, n // 512), salt="s"),
        threshold=0.4,
        engine="arrow",
    )


@query("dedup_semantic_trained")  # trained k-means codebook — no SQL twin
def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED two-level SemDeDup lane (VERDICT r7 #7): a
    hierarchical k-means codebook (driver-side Lloyd on a
    hash-chosen sample, operators/dedup.py:hierarchical_codebook)
    replaces the portable md5 codebook, and assignment argmins
    coarse-then-fine — N·(Kc + K/Kc)·D flops instead of N·K·D.
    Measured at 1M×64, K=2048 (PERF.md round 8): flat arrow 50.7 s
    (91% of it the assignment matmul) → two-level 4.0 s with the
    k-scaled training sample (5.8 s one-time training); 2M/K=4096
    runs 12.1 s where the flat assignment alone is 110.6 s. Rows-only by design — k-means centers are
    float-accumulation-order dependent, so no cross-engine oracle;
    quality gates are tests/test_dedup.py's planted-duplicate
    detection and 100% routing agreement vs the flat argmin over the
    SAME trained fine centers on clustered data (the r7
    fixed-codebook rejection showed routing over a RANDOM codebook is
    near-chance; training restores the shared cluster structure real
    IVF hierarchies rely on). Same K ∝ N sizing as the twins."""
    from vspace_spark.operators.dedup import semantic_dedup_two_level
    from vspace_spark.operators.scale import footer_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    n = footer_row_count(emb)
    if n is None:
        n = emb.count()  # bounded-collect: one scalar, sizes the codebook
    return semantic_dedup_two_level(
        emb, k=max(16, n // 512), threshold=0.4
    )
