"""Incremental near-dup detection against a GROWING index.

The stream-static dedup queries (``stream_dedup_docs_minhash``,
``stream_dedup_embeddings``) bucket arriving documents against an
index built ONCE from the already-ingested corpus. This module closes
the remaining gap (NOTES.md round-4 candidate #4): the index ACCRETES
— every micro-batch first probes the postings of all earlier batches,
then appends its own, so a document arriving at hour N is matched
against everything ingested in hours 0..N without ever rebuilding the
index.

Three legs — MinHash text signatures, PassJoin edit-distance segments
and hyperplane-LSH cosine — run on one replay skeleton,
:func:`_accreting_replay`. Engine mapping: ``foreachBatch`` +
append-only index relations partitioned by batch id — the standard
Spark recipe for a sink/state store without native streaming support.
Index appends, result-batch writes and probe reads all route through
the shared accreting-index contract
(``io/connectors.py:append_index_batch``/``read_index``): each batch
replaces only its own ``batch=<id>`` partition, so replays after
failure are idempotent (exactly-once effect, matching
``run_stream_foreach_batch_parquet``), and the probe's ``batch <
current`` filter statically prunes to the earlier partitions. The
same calls with ``fmt='delta'`` write an ACID ``replaceWhere`` table;
the parquet form keeps this harness dependency-free while exercising
the identical dataflow.

Correctness is batch-boundary-INDEPENDENT, which is what makes the
operators exactly oracle-checkable: a qualifying pair (a < b) is
found exactly once, in the later endpoint's batch — via the index
probe when the two arrive apart, or via the intra-batch self-join
when they arrive together — so the union over batches equals the
batch pair set regardless of how the file source slices the replay.
The PassJoin leg does both in one probe: the batch's keys probe the
batch's own segments together with the stored ones, through the same
pair function batch PassJoin runs
(``operators/dedup.py:_segment_pairs``).

Each micro-batch is planned without AQE, on the stream's own session
only (the caller's session keeps its setting). A micro-batch is a few
documents, so AQE has nothing to coalesce or split, but it runs every
query stage as a Spark job of its own: 13 jobs per MinHash batch
against 3 for the static plan (PERF.md "Three jobs per micro-batch").
The static plan still broadcasts the batch-sized side and streams the
index scan, because the cached postings carry their real size.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import operator
import os
import shutil
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vspace_spark.functions.kernels import as_matrix
from vspace_spark.io.connectors import append_index_batch, read_index
from vspace_spark.operators.dedup import (
    _FAMILIES,
    _agreement,
    _band_col,
    _banded,
    _minhash_plan,
    _minhash_sigs,
    _rows_per_band,
)
from vspace_spark.plans.explain import formatted_plan

# The local properties ``SparkContext.setJobGroup`` sets.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _auto_lsh_layout(n: int, bits: int) -> tuple[int, int]:
    """Resolve ``(bits, bits_per_table)`` for the embedding leg when
    the caller leaves the bucket width to the corpus. Two rules:

    - WIDTH targets ~8 vectors per bucket per table
      (``ceil(log2(n/8))``, clamped to [4, 16]) — the knob that
      silently broke at 100× when fixture-sized (round 11: 4-bit
      tables put ~N/16 vectors in EVERY bucket);
    - ``bits`` is RAISED so the OR-amplification TABLE COUNT the
      configured ``bits`` bought at the 4-bit floor (``bits // 4``)
      is held as the width grows. Without this, a default-knob
      caller at N≈200k got 15-bit tables inside a fixed 32 bits —
      table count silently fell 8 → 2 and recall eroded with it
      (VERDICT r11 #5). Recall is a contract, not a docstring note.

    Raises on ``bits < 4`` — the old clamp returned a width wider
    than ``bits`` there, making ``n_tables == 0`` and the operator
    silently emit an empty pair set (ADVICE r11)."""
    import math

    if bits < 4:
        raise ValueError(f"bits must be >= 4, got {bits}")
    n_tables = bits // 4
    bpt = max(4, min(16, math.ceil(math.log2(max(n, 2) / 8))))
    return bpt * n_tables, bpt


def _thread_target(spark: SparkSession, fn):
    """``fn`` for a driver pool thread, inheriting the caller's job
    properties in PySpark's pinned-thread mode. Outside that mode
    ``inheritable_thread_target(spark)`` returns the (uncallable)
    session and no wrapping is needed, so ``fn`` runs as is."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def _submit_append(pool, spark: SparkSession, df, path: str, batch_id):
    """Future of one contract write run on a driver pool thread, so
    a micro-batch's independent writes overlap."""

    def write():
        return append_index_batch(spark, df, path, batch_id, fmt="parquet")

    return pool.submit(_thread_target(spark, write))


def _has_earlier(
    attempted: Iterable[int], batch_id: int, dirs: Iterable[str]
) -> bool:
    """Probe the index only if an earlier batch was attempted AND every
    directory the probe reads exists (empty batches write no files)."""
    return any(i < batch_id for i in attempted) and all(
        os.path.isdir(d) for d in dirs
    )


@contextlib.contextmanager
def _job_group(sc, group: str):
    """Run the body's Spark jobs under job group ``group``, keeping the
    thread's job description, then restore the thread's own group (a
    streaming query's is its run id, which stopping it cancels)."""
    saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, saved[1], interruptOnCancel=True)
    try:
        yield
    finally:
        for k, v in zip(_JOB_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)


def _accreting_replay(
    spark: SparkSession,
    replay: DataFrame,
    key: str,
    work_dir: str | None,
    tag: str,
    n_input_files: int,
    setup,
    result_schema: str,
    progress_out: list | None,
) -> DataFrame:
    """The micro-batch loop every incremental leg runs: replay
    ``replay`` as a multi-batch file stream, accrete the leg's index
    under ``work_dir`` and return the flagged pairs read back from
    ``<work_dir>/out`` (typed by ``result_schema`` when none exist).

    The replay is materialized as ``n_input_files`` parquet files,
    range-partitioned on ``key`` (disjoint contents), and consumed one
    per trigger (``maxFilesPerTrigger=1``), so the index genuinely
    accretes across ≥ ``n_input_files`` probe rounds — a single-batch
    replay would degenerate to the intra-batch self-join and never
    exercise the index path.

    ``setup(in_dir, schema)`` runs once per run, after the replay is
    written, and returns ``(indexes, step)``. ``indexes`` maps each
    index directory name to its probe-read schema (``batch``
    included): an explicit schema skips parquet footer inference over
    the growing history on every probe. ``step(batch, earlier)``
    builds one micro-batch's work; ``earlier`` maps each index name to
    the postings of the batches STRICTLY before this one (their
    ``batch`` column included) — a replayed batch must not see its own
    or later appends, or the rerun emits pairs twice — or is None when
    there are none. ``step`` returns ``(cached, flagged, appends)``:
    the frame it persisted, the pairs to write and the ``{index name:
    frame}`` postings to append.

    AQE is switched off on the micro-batch's session, a per-query clone
    of ``spark`` (the module docstring has why); ``spark``'s own conf
    is never changed.

    ``progress_out`` receives one record per data batch — ``batch_id``,
    ``duration_ms``, ``rows``, the engine's ``durationMs`` phase map
    and ``jobs``, the Spark jobs the batch ran (each batch runs under
    a job group of its own, which the pool threads inherit). The first
    batch that probes the index also carries ``plan``, the formatted
    physical plan of its pairs query. Each batch's progress is read as
    the next batch starts, so a run longer than
    ``spark.sql.streaming.numRecentProgressUpdates`` still reports
    every batch.
    """
    if work_dir is None:
        work_dir = os.path.join(
            "/tmp", f"vspace_incr_{tag}_{uuid.uuid4().hex[:12]}"
        )
    in_dir = os.path.join(work_dir, "in")
    out_dir = os.path.join(work_dir, "out")
    # Spark writers, no driver collect; range partitioning on the id
    # keeps file contents disjoint
    replay.repartitionByRange(n_input_files, key).write.mode(
        "overwrite"
    ).parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    indexes, step = setup(in_dir, schema)
    paths = {name: os.path.join(work_dir, name) for name in indexes}
    # A NEW run starts from an empty index/result. An EMPTY batch
    # writes no partition, so a stale batch=<id> partition from an
    # EARLIER run over the same work_dir would silently survive into
    # this run's probe and final read (caught live by the sf0.01
    # window sweep: range-partition boundaries shifted between runs
    # and a pair surfaced from both runs' batch layouts). WITHIN-run
    # replays of a micro-batch still overwrite their own partition.
    for path in (*paths.values(), out_dir):
        shutil.rmtree(path, ignore_errors=True)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    # Per-run ledger of ATTEMPTED batch ids: the run starts from an
    # empty index, so within-run state answers "are there earlier
    # partitions?" without a listing per batch. The id is recorded
    # BEFORE the writes run, so an engine retry of a partially
    # committed batch still counts as a replay (ADVICE r10). An id
    # strictly earlier than the current batch always denotes a
    # COMPLETED batch: a failed foreachBatch fails the query, so the
    # stream never advances past it within a run.
    attempted: set[int] = set()
    # The batch's contract writes are independent given the persisted
    # postings and touch different directories; the pairs job probes
    # only batch < current partitions, committed before this batch
    # started. So all but the last append overlap from driver threads
    # (guide §2.6; VERDICT r13 #2: they were the largest serial terms
    # of the per-batch fixed cost). The pool outlives the stream, and
    # process() joins every write before returning, so the engine
    # starts batch N+1 only after batch N is committed.
    pool = concurrent.futures.ThreadPoolExecutor(max_workers=len(paths))
    progress: dict[int, dict] = {}
    plans: dict[int, str] = {}  # the first probing batch's pairs plan
    run_id = uuid.uuid4().hex
    query: list = []  # the running query, for process() to read

    def record(p) -> None:
        if p is not None and p.numInputRows > 0:
            progress.setdefault(
                p.batchId,
                {
                    "batch_id": p.batchId,
                    "duration_ms": p.batchDuration,
                    "rows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                },
            )

    def group(batch_id: int) -> str:
        return f"vspace-{tag}-{run_id}-{batch_id}"

    def process(batch: DataFrame, batch_id: int) -> None:
        batch.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
        if progress_out is not None and query:
            record(query[0].lastProgress)  # the batch that just ended
        with _job_group(spark.sparkContext, group(batch_id)):
            run(batch, batch_id)

    def run(batch: DataFrame, batch_id: int) -> None:
        earlier = None
        if _has_earlier(attempted, batch_id, paths.values()):
            earlier = {
                name: read_index(
                    spark, paths[name], fmt="parquet", schema=idx_schema
                ).filter(f"`batch` < {batch_id}")
                for name, idx_schema in indexes.items()
            }
        cached, flagged, appends = step(batch, earlier)
        if progress_out is not None and earlier is not None and not plans:
            plans[batch_id] = formatted_plan(flagged)
        attempted.add(batch_id)
        *pooled, (last, df) = appends.items()
        writes = [_submit_append(pool, spark, flagged, out_dir, batch_id)]
        writes += [
            _submit_append(pool, spark, f, paths[name], batch_id)
            for name, f in pooled
        ]
        try:
            append_index_batch(
                spark, df, paths[last], batch_id, fmt="parquet"
            )
        finally:
            for w in writes:
                w.result()
        cached.unpersist()

    q = stream.writeStream.foreachBatch(process).start()
    query.append(q)
    try:
        q.processAllAvailable()
        if progress_out is not None:
            for p in q.recentProgress:  # the last batch's, at least
                record(p)
            tracker = spark.sparkContext.statusTracker()
            for b in sorted(progress):
                rec = progress[b]
                rec["jobs"] = len(tracker.getJobIdsForGroup(group(b)))
                if b in plans:
                    rec["plan"] = plans[b]
                progress_out.append(rec)
    finally:
        q.stop()
        pool.shutdown(wait=True)
    # zero-pairs corpus: partitioned writes of all-empty batches emit
    # NO files, so the read would fail on schema inference — return a
    # typed empty result instead
    if not os.path.isdir(out_dir) or not any(
        e.startswith("batch=") for e in os.listdir(out_dir)
    ):
        return spark.createDataFrame([], result_schema)
    # EAGER materialization, lineage truncated: the next run over the
    # same work_dir rmtree's out_dir first, so a lazy read returned
    # here would be silently invalidated the moment the caller
    # re-invokes. The pairs are computed NOW into block storage, and
    # the returned frame no longer references the files at all.
    return (
        read_index(spark, out_dir, fmt="parquet")
        .drop("batch")
        .localCheckpoint(eager=True)
    )


def _posting_pairs(
    keys: list[str],
    payload: str,
    score: F.Column,
    keep: F.Column,
    spread: int | None,
):
    """``pairs(posted, earlier)``: one micro-batch's flagged pairs over
    postings ``(_id, payload, *keys)``. Candidates come from the
    intra-batch self-join on ``keys`` (a < b) and, when ``earlier``
    postings exist, from the probe of that index, min/max-normalized
    so the pair key is orientation-free even if the replay delivers
    files out of id order. ``score`` is computed over the oriented
    payloads (``_pa`` of ``a``, ``_pb`` of ``b``) and kept where
    ``keep`` holds, one row per pair however many keys matched.

    Called once per run: every Column is built here, so a batch makes
    DataFrame calls only. Each ``F.*`` call is about 16 py4j round
    trips, about 190 ms per batch for this set. The
    self-join renames the new side's keys, so both joins take their
    whole condition, ``a < b`` and the self-match filter included.

    ``spread``: the partition count the postings are spread to before
    the joins, or None. The embedding leg spreads (guide §2 — r13):
    its postings are a per-row projection of a one-file batch, cached
    in ONE partition, so without it the confirm ran single-task over
    every candidate — 2–3.6 s/batch at 244k candidates
    (OPTIMIZATION_r13.md). Spreading batch-sized posting rows is a
    KB-scale shuffle; the index append still writes the unspread
    postings, one file per batch. The MinHash leg does not: its
    postings come out of the per-``_id`` MIN aggregate, already in
    ``spark.sql.shuffle.partitions`` partitions once AQE no longer
    coalesces them to one."""
    renamed = [f"_k{i}" for i in range(len(keys))]
    same = functools.reduce(
        operator.and_, [F.col(k) == F.col(r) for k, r in zip(keys, renamed)]
    )
    left_cols = [
        F.col("_id").alias("a"),
        F.col(payload).alias("_pa"),
        *[F.col(k) for k in keys],
    ]
    right_cols = [
        F.col("_id").alias("b"),
        F.col(payload).alias("_pb"),
        *[F.col(k).alias(r) for k, r in zip(keys, renamed)],
    ]
    self_on = same & (F.col("a") < F.col("b"))
    # probe: the new side (b, _pb) against the index rows (_id, payload)
    probe_on = same & (F.col("b") != F.col("_id"))
    new_first = F.col("b") < F.col("_id")
    oriented = [
        F.least("b", "_id").alias("a"),
        F.greatest("b", "_id").alias("b"),
        F.when(new_first, F.col("_pb")).otherwise(F.col(payload)).alias("_pa"),
        F.when(new_first, F.col(payload)).otherwise(F.col("_pb")).alias("_pb"),
    ]
    cand_cols = [F.col("a"), F.col("b"), F.col("_pa"), F.col("_pb")]
    out_cols = [F.col("a"), F.col("b"), score]

    def pairs(posted: DataFrame, earlier: DataFrame | None) -> DataFrame:
        if spread is not None:
            posted = posted.repartition(spread)
        right = posted.select(*right_cols)
        cands = posted.select(*left_cols).join(right, self_on)
        if earlier is not None:
            probe = right.join(earlier, probe_on).select(*oriented)
            cands = cands.select(*cand_cols).unionByName(probe)
        return cands.select(*out_cols).filter(keep).distinct()

    return pairs


def incremental_minhash_dedup(
    spark: SparkSession,
    docs: DataFrame,
    work_dir: str | None = None,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_agree: int = 16,
    n_input_files: int = 8,
    progress_out: list | None = None,
    hash_engine: str = "portable",
) -> DataFrame:
    """Replay ``docs`` as a multi-batch file stream (``n_input_files``
    micro-batches, :func:`_accreting_replay`) and dedup each
    micro-batch against the accreting signature index, the
    batch-partitioned parquet postings ``(id, sig, band, bucket)``
    under ``<work_dir>/index``. Returns the flagged PAIRS ``[a, b,
    agree]`` (a < b, signature agreement ≥ ``min_agree`` of
    ``num_hashes``) as a batch DataFrame read back from
    ``<work_dir>/out``.

    ``hash_engine``: ``"portable"`` (default) keeps the md5 signature
    and string bucket the oracle reproduces; ``"xxhash64"`` swaps in
    the batch fast twin's family (``operators.dedup._FAMILIES``: one
    JVM hash instruction per seed, hashed bucket) — the production
    ingest lane, measured in PERF.md round 11. Either way the
    signatures and buckets are the batch twin's, so the union over
    micro-batches equals the batch pair set; pair-set-vs-expected
    equality and replay idempotency are test-pinned for both.
    ``bands`` must divide ``num_hashes`` (``ValueError`` otherwise).
    """
    if hash_engine not in _FAMILIES:
        raise ValueError(f"unknown hash_engine: {hash_engine}")
    rows = _rows_per_band(num_hashes, bands)

    def setup(in_dir: str, schema: T.StructType):
        # Per-batch fixed cost, paid once per RUN (VERDICT r13 #2,
        # guide §7.3/§5): the signature, banding and pair Column trees
        # are built here and reused by every batch, and the rebalance
        # decision is made from the materialized replay's total decoded
        # bytes (the rule of rebalance_for_compute's 128 KB floor at
        # one-file batches) instead of re-probing parquet footers per
        # batch. The floor is 32× below that helper's default: the
        # default was calibrated on ~1×-per-byte tokenize work, while
        # the signature projection does num_hashes hashes per shingle.
        from vspace_spark.operators.scale import _uncompressed_input_bytes

        sig_plan = _minhash_plan(hash_engine, "text", shingle_n, num_hashes)
        bb_col = _band_col(hash_engine, bands, rows)
        pairs = _posting_pairs(
            ["band", "bucket"],
            "sig",
            _agreement("_pa", "_pb").alias("agree"),
            F.col("agree") >= min_agree,
            spread=None,
        )
        total = _uncompressed_input_bytes(spark.read.parquet(in_dir))
        rebalance = total is None or total / max(n_input_files, 1) >= 128 << 10
        parallelism = spark.sparkContext.defaultParallelism
        index_schema = T.StructType(
            [
                T.StructField("_id", schema["doc_id"].dataType),
                T.StructField("sig", T.ArrayType(T.LongType())),
                T.StructField("band", T.IntegerType()),
                T.StructField(
                    "bucket", _FAMILIES[hash_engine].bucket_type
                ),
                T.StructField("batch", T.IntegerType()),
            ]
        )

        def step(batch: DataFrame, earlier: dict | None):
            # persisted, not counted: whichever of the pairs job and the
            # index append touches a partition first computes it, the
            # other blocks on the cache lock and reads it
            if rebalance:
                # a one-file micro-batch arrives in one or two IO
                # partitions; spread it before the hash projection
                batch = batch.repartition(parallelism)
            bb = _banded(
                _minhash_sigs(batch, sig_plan), bb_col, "_id", "sig"
            ).persist()
            flagged = pairs(bb, earlier and earlier["index"])
            return bb, flagged, {"index": bb}

        return {"index": index_schema}, step

    return _accreting_replay(
        spark, docs, "doc_id", work_dir, "dedup", n_input_files, setup,
        "a long, b long, agree integer", progress_out,
    )


def incremental_passjoin_dedup(
    spark: SparkSession,
    docs: DataFrame,
    key_col: str = "text",
    key_len: int = 16,
    max_dist: int = 3,
    work_dir: str | None = None,
    n_input_files: int = 8,
    progress_out: list | None = None,
) -> DataFrame:
    """:func:`incremental_minhash_dedup`'s TEXT analog — the PassJoin
    SEGMENT index as a PERSISTED build-once/probe-many artifact
    (VERDICT r9 #8): replay ``docs`` as a multi-batch file stream and
    edit-distance-dedup each micro-batch against the accreting index.
    Returns the PAIRS ``[a, b, dist]`` (a < b, Levenshtein distance ≤
    ``max_dist`` on the first ``key_len`` chars of ``key_col``).

    Two relations accrete, both through the shared per-batch-partition
    contract (replay-idempotent like the signature index):

    - ``seg``:  the segment-index rows of every ingested key
      (``index_rows`` of operators/dedup.py:_segment_pairs —
      (length, segment#, content) equi-keys), written ONCE per
      document at ingest;
    - ``keys``: (id, key) for verification and the short-key residual.

    Per batch, ONE call of the batch PassJoin pair function
    (:func:`~vspace_spark.operators.dedup._segment_pairs`): the batch's
    keys probe the batch's own segments together with the STORED
    segments of all earlier batches, and verify against the batch's
    keys together with the stored ones. The index side is never
    re-derived, which is the whole point: per-batch candidate cost is
    probe-rows(batch) × matched buckets, not |history| re-hashing.
    Completeness: one-directional PassJoin finds every partner of a
    probe key among the indexed keys — through the partner's segments
    when it has k+1 chars or more, else through the residual lane
    (its partners are at most 2k chars by the length band). A pair
    is therefore found in the batch of its later endpoint (once, after
    orientation), so the union over batches equals the batch
    :func:`~vspace_spark.operators.dedup.passjoin_edit_pairs` pair set
    regardless of replay slicing — the oracle-checkable contract.
    """
    from vspace_spark.operators.dedup import _segment_pairs

    def setup(in_dir: str, schema: T.StructType):
        index_rows, pairs = _segment_pairs([], max_dist)
        keyed_cols = [F.col("doc_id").alias("_id"), F.col("_k")]
        idt = schema["doc_id"].dataType
        i32, text = T.IntegerType(), T.StringType()

        def read_schema(*cols):
            return T.StructType(
                [T.StructField(c, t) for c, t in (*cols, ("batch", i32))]
            )

        def step(batch: DataFrame, earlier: dict | None):
            # persisted, not counted: whichever of the pairs job and the
            # appends touches a partition first computes it
            keyed = batch.select(*keyed_cols).persist()
            seg = index_rows(keyed)
            index, keys = seg, keyed
            if earlier is not None:
                index = seg.unionByName(earlier["seg"].drop("batch"))
                keys = keyed.unionByName(earlier["keys"].drop("batch"))
            flagged = pairs(keyed, index, keys)
            return keyed, flagged, {"keys": keyed, "seg": seg}

        return {
            "seg": read_schema(
                ("_rid", idt), ("_rlen", i32), ("_ri", i32), ("_seg", text)
            ),
            "keys": read_schema(("_id", idt), ("_k", text)),
        }, step

    replay = docs.select(
        F.col("doc_id"), F.substring(key_col, 1, key_len).alias("_k")
    ).filter(F.col("_k").isNotNull())
    return _accreting_replay(
        spark, replay, "doc_id", work_dir, "pj", n_input_files, setup,
        "a long, b long, dist integer", progress_out,
    )


def incremental_embedding_dedup(
    spark: SparkSession,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 32,
    bits_per_table: int | None = None,
    threshold: float = 0.4,
    work_dir: str | None = None,
    n_input_files: int = 8,
    progress_out: list | None = None,
    sig_engine: str = "fold",
) -> DataFrame:
    """The EMBEDDING leg of the incremental-dedup trilogy (MinHash
    text signatures, PassJoin edit-distance segments, and
    hyperplane-LSH cosine): replay ``embeddings`` as a multi-batch
    file stream and near-dup each micro-batch against the accreting
    bucket index. Returns PAIRS ``[a, b, cos]`` (a < b, exact cosine
    ≥ ``threshold``, rounded to 6 — the float discipline).

    The index accretes through the shared per-batch-partition
    contract as vector-carrying LSH postings ``(id, vector, table,
    bucket)`` under ``<work_dir>/idx``, so a probe is ONE equi-join on
    (table, bucket) and the cosine confirm reads the matched rows
    directly — no history-sized second shuffle to fetch the old
    vectors (the r11 100× measurement: slope −8 ms/batch, against
    +292 ms/batch for id-only postings joined to a vector relation).
    Buckets use the PORTABLE md5 hyperplanes (every sign bit exact in
    IEEE double on any engine), so the union over batches equals the
    batch LSH pair set and the operator is fully oracle-checkable
    with the same SQL as ``stream_dedup_docs``'s embedding twin — the
    batch-boundary-independence argument is the module docstring's.

    ``bits_per_table=None`` (default) AUTO-SIZES the bucket width to
    the corpus: a fixed fixture-sized width is the one knob here that
    silently breaks at scale — 4-bit tables (16 buckets) put ~N/16
    vectors in EVERY bucket, so candidate volume grows ~N²·tables /
    buckets (measured round 11: one 6.2k-vector micro-batch against a
    200k-vector corpus ran >12 minutes, the few hot join partitions
    idling the rest of the box). The rule targets ~8 vectors per
    bucket per table (``bpt = ceil(log2(N/8))``, clamped [4, 16])
    AND auto-raises ``bits`` so the table count the configured
    ``bits`` bought at the 4-bit floor is HELD as buckets widen
    (``_auto_lsh_layout``; VERDICT r11 #5 — previously a default-knob
    caller at N≈200k silently dropped from 8 tables to 2, eroding
    OR-amplification recall; now bits=32 at 200k resolves to 8
    15-bit tables = 120 planes, still one matmul per Arrow batch on
    the ``"arrow"`` lane). Pass an explicit width to pin the bucket
    layout — the registered oracle query does (its SQL mirrors the
    4-bit bands); an explicit width wider than ``bits`` raises.

    ``sig_engine``: ``"fold"`` (default) computes every sign bit with
    the interpreted JVM dot fold — exact-in-double on any engine, the
    oracle-checkable lane. ``"arrow"`` computes the whole batch's
    signature matrix with ONE numpy matmul per Arrow batch
    (mapInPandas, planes shipped as literals) — the production ingest
    lane, since the per-row fold is the flat-but-high per-batch
    constant once the probe is index-bounded (PERF.md round 11). Same
    rows-only caveat as every matmul twin (BLAS summation order can
    flip a sign bit on a dot product at ±0); fold/arrow output
    equality on the fixture is pinned in tests.
    """
    if sig_engine not in ("fold", "arrow"):
        raise ValueError(f"unknown sig_engine: {sig_engine}")
    if bits_per_table is not None and bits_per_table > bits:
        raise ValueError(
            f"bits_per_table ({bits_per_table}) exceeds bits ({bits}): "
            "n_tables would be 0 and every pair would be silently missed"
        )
    from vspace_spark.functions.vectors import cosine_similarity
    from vspace_spark.operators.scale import footer_row_count
    from vspace_spark.operators.similarity import (
        lsh_buckets,
        portable_hyperplanes,
    )

    # RAW cosine for the threshold filter (the oracle's WHERE cos >=
    # threshold also filters the raw value, rounding only in SELECT —
    # filtering the rounded value would disagree on cosines in
    # [threshold - 5e-7, threshold)); round only for the output column.
    cos_raw = cosine_similarity(F.col("_pa"), F.col("_pb"))
    out_cols = [F.col("a"), F.col("b"), F.round("cos", 6).alias("cos")]

    def setup(in_dir: str, schema: T.StructType):
        pairs = _posting_pairs(
            ["tbl", "bucket"],
            "_v",
            cos_raw.alias("cos"),
            F.col("cos") >= threshold,
            spread=spark.sparkContext.defaultParallelism,
        )
        # dim from the materialized replay's first row — bounded-collect:
        # one scalar (the hyperplanes are a driver-side literal table)
        dim = spark.read.parquet(in_dir).select(F.size("_v")).first()[0]
        n_bits, bpt = bits, bits_per_table
        if bpt is None:
            # auto-size from the replay's parquet footers (a metadata
            # read; count() only as fallback) — see docstring for the rule
            n_est = footer_row_count(spark.read.parquet(in_dir))
            if n_est is None:
                n_est = spark.read.parquet(in_dir).count()
            n_bits, bpt = _auto_lsh_layout(n_est, bits)
        n_tables = n_bits // bpt
        if n_tables < 1:
            raise ValueError(
                f"bits_per_table ({bpt}) exceeds bits ({n_bits}): "
                "n_tables would be 0 and every pair would be silently missed"
            )
        planes = portable_hyperplanes(dim, n_bits)

        if sig_engine == "fold":
            # built once per run, not a literal tree per batch (r13:
            # seconds of driver time each)
            tb_cols = [
                F.col("_id"),
                F.col("_v"),
                F.explode(
                    lsh_buckets(F.col("_v"), planes, bpt, n_tables)
                ).alias("_tb"),
            ]
            posting_cols = [
                F.col("_id"), F.col("_v"), F.col("_tb.tbl"), F.col("_tb.bucket")
            ]

            def bucketed(df: DataFrame) -> DataFrame:
                return df.select(*tb_cols).select(*posting_cols)

        else:
            # plain literals and the by-value kernels only: executors
            # cannot import this repo when the driver runs elsewhere
            # (NOTES.md seam #2)
            planes_lit = [[float(x) for x in p] for p in planes[:n_bits]]

            def sigs(batches):
                import numpy as np
                import pandas as pd

                P = np.asarray(planes_lit, dtype=np.float64)  # bits × dim
                # bit j → 2^j within its table
                weights = 2 ** np.arange(bpt, dtype=np.int64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    V = as_matrix(pdf["_v"])
                    bits_on = (V @ P.T) > 0  # rows × bits, one matmul
                    yield pd.concat(
                        [
                            pd.DataFrame(
                                {
                                    "_id": pdf["_id"].to_numpy(),
                                    "_v": pdf["_v"].to_numpy(),
                                    "tbl": np.full(len(pdf), t, np.int32),
                                    "bucket": bits_on[
                                        :, t * bpt : (t + 1) * bpt
                                    ] @ weights,
                                }
                            )
                            for t in range(n_tables)
                        ],
                        ignore_index=True,
                    )

            def bucketed(df: DataFrame) -> DataFrame:
                return df.mapInPandas(
                    sigs, "_id long, _v array<float>, tbl int, bucket long"
                )

        idx_schema = T.StructType(
            [
                T.StructField("_id", schema["_id"].dataType),
                T.StructField("_v", schema["_v"].dataType),
                T.StructField("tbl", T.IntegerType()),
                T.StructField("bucket", T.LongType()),
                T.StructField("batch", T.IntegerType()),
            ]
        )

        def step(batch: DataFrame, earlier: dict | None):
            bb = bucketed(batch).persist()
            bb.count()  # bounded work: one micro-batch
            flagged = pairs(bb, earlier and earlier["idx"]).select(
                *out_cols
            )
            return bb, flagged, {"idx": bb}

        return {"idx": idx_schema}, step

    replay = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    return _accreting_replay(
        spark, replay, "_id", work_dir, "emb", n_input_files, setup,
        "a long, b long, cos double", progress_out,
    )
