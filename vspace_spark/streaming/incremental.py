"""Incremental near-dup detection against a GROWING index.

The stream-static dedup queries (``stream_dedup_docs_minhash``,
``stream_dedup_embeddings``) bucket arriving documents against an
index built ONCE from the already-ingested corpus. This module closes
the remaining gap (NOTES.md round-4 candidate #4): the index ACCRETES
— every micro-batch first probes the signatures of all earlier
batches, then appends its own signatures, so a document arriving at
hour N is matched against everything ingested in hours 0..N without
ever rebuilding the index.

Engine mapping: ``foreachBatch`` + an append-only signature index
partitioned by batch id — the standard Spark recipe for a sink/state
store without native streaming support. Index appends, result-batch
writes, and probe reads all route through the shared accreting-index
contract (``io/connectors.py:append_index_batch``/``read_index``):
each batch replaces only its own ``batch=<id>`` partition, so replays
after failure are idempotent (exactly-once effect, matching
``run_stream_foreach_batch_parquet``), and the probe's ``batch <
current`` filter statically prunes to the earlier partitions. The
same calls with ``fmt='delta'`` write an ACID ``replaceWhere`` table;
at warehouse scale that table is additionally bucketed by
(band, bucket) so each probe prunes to its buckets instead of
scanning the whole signature history. The parquet form keeps this
harness dependency-free while exercising the identical dataflow.

Correctness is batch-boundary-INDEPENDENT, which is what makes the
operator exactly oracle-checkable: a qualifying pair (a < b) is
found exactly once — in b's batch via the index probe when a was
ingested earlier, or via the intra-batch self-join when they arrive
together — so the union over batches equals the batch LSH pair set
regardless of how the file source slices the replay.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vspace_spark.functions.text import ngrams_col, tokenize_col
from vspace_spark.io.connectors import (
    append_index_batch,
    append_index_batch_bucketed,
    read_index,
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


def _has_earlier(attempted: set, batch_id: int, dirs) -> bool:
    """Probe the index only if an earlier batch was attempted AND every
    directory the probe reads exists (empty batches write no files)."""
    return any(i < batch_id for i in attempted) and all(
        os.path.isdir(d) for d in dirs
    )


def _minhash_sig_plan(
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    hash_engine: str,
) -> tuple:
    """The Column trees :func:`_portable_minhash_sigs` applies, built
    ONCE so a foreachBatch caller can reuse them across micro-batches
    (guide §7.3's loop-generated-trees rule, extended from the
    embedding leg's r13 hoist to the minhash leg): each of the
    ``num_hashes`` md5/conv/substring trees converts through py4j at
    construction, and rebuilding all of them per batch was pure
    per-batch driver cost. Columns are immutable session-independent
    parse trees, so reuse across batches is free and exact."""

    def h(i: int) -> F.Column:
        if hash_engine == "xxhash64":
            return F.xxhash64("_sh", F.lit(i))
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("_sh"))), 1, 15
            ),
            16,
            10,
        ).cast("long")

    ex_cols = (
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(ngrams_col(tokenize_col(text_col), shingle_n))
        ).alias("_sh"),
    )
    hash_cols = [h(i).alias(f"_h{i}") for i in range(num_hashes)]
    min_aggs = [F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    sig_col = F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig")
    return (ex_cols, hash_cols, min_aggs, sig_col)


def _portable_minhash_sigs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    hash_engine: str = "portable",
    _plan: tuple | None = None,
    _rebalance: bool | None = None,
) -> DataFrame:
    """(id, sig) minhash signatures via the scale path: distinct
    shingles exploded once, hashed ``num_hashes``× in one projection,
    per-seed MIN with map-side partial aggregation.

    ``hash_engine="portable"`` (default) is the md5 60-bit definition
    of ``operators.dedup.minhash_lsh_pairs_portable`` (15 hex chars →
    always-positive BIGINT) — reproducible in any engine, the
    oracle-checkable lane. ``"xxhash64"`` is the batch fast twin's
    definition (``minhash_lsh_pairs``: one JVM hash instruction per
    seed vs md5's per-seed string digest) — the production ingest
    lane; same banding, same agreement semantics, different hash
    values, so it pairs with the batch xxhash64 twin, not the oracle.

    The input is rebalanced first: inside ``foreachBatch`` each
    micro-batch arrives with the FILE SOURCE's partitioning (one file
    → one or two partitions), which would serialize the 32-hash
    projection on a couple of cores exactly like the under-
    parallelized batch scans ``rebalance_for_compute`` was measured
    on (PERF.md, 8.8×). The byte floor is lowered 32× from the
    helper's default here (r13): the default 4 MB floor was
    calibrated on ~1×-per-byte tokenize work, while this projection
    does ``num_hashes`` interpreted md5 digests per shingle — a
    micro-batch far below 4 MB decoded still carries seconds of
    single-task hashing.

    ``_plan`` (r14): prebuilt Column trees from
    :func:`_minhash_sig_plan` — foreachBatch callers build them once
    per operator call instead of once per micro-batch.
    ``_rebalance`` (r14): ``None`` probes the input's partitioning and
    footer size per call (the batch-caller default); ``True``/``False``
    is a caller-made decision — the incremental replay decides ONCE
    from the materialized replay's total bytes instead of re-probing
    footers every micro-batch."""
    if _rebalance is None:
        from vspace_spark.operators.scale import rebalance_for_compute

        docs = rebalance_for_compute(docs, min_bytes=128 << 10)
    elif _rebalance:
        docs = docs.repartition(
            docs.sparkSession.sparkContext.defaultParallelism
        )
    ex_cols, hash_cols, min_aggs, sig_col = _plan or _minhash_sig_plan(
        id_col, text_col, shingle_n, num_hashes, hash_engine
    )
    ex = docs.select(*ex_cols)
    mins = ex.select("_id", *hash_cols).groupBy("_id").agg(*min_aggs)
    return mins.select("_id", sig_col)


def _banded_col(bands: int, rows: int) -> F.Column:
    """The exploded (band, bucket) struct column :func:`_banded`
    applies — exposed so foreachBatch callers can build it once per
    operator call (guide §7.3, same rationale as
    :func:`_minhash_sig_plan`)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * rows + r + 1)
                            for r in range(rows)
                        ],
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bb")


def _banded(
    sigs: DataFrame,
    bands: int,
    rows: int,
    _bb: F.Column | None = None,
) -> DataFrame:
    """(id, sig, band, bucket) — bucket is the band's min-values
    joined as a string (no second-level hash; portable)."""
    return sigs.select(
        "_id",
        "sig",
        _bb if _bb is not None else _banded_col(bands, rows),
    ).select("_id", "sig", "bb.band", "bb.bucket")


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
    index_layout: str = "partitioned",
    index_buckets: int | None = None,
    hash_engine: str = "portable",
    _raw_progress_out: list | None = None,
) -> DataFrame:
    """Replay ``docs`` as a multi-batch file stream and dedup each
    micro-batch against the accreting signature index. Returns the
    flagged PAIRS ``[a, b, agree]`` (a < b, signature agreement ≥
    ``min_agree`` of ``num_hashes``) as a batch DataFrame read back
    from the run's output directory.

    The replay is materialized as ``n_input_files`` range-partitioned
    parquet files consumed one per trigger (``maxFilesPerTrigger=1``),
    so the index genuinely accretes across ≥ ``n_input_files`` probe
    rounds — a single-batch replay would degenerate to the intra-batch
    self-join and never exercise the index path.

    ``hash_engine``: ``"portable"`` (default) keeps the md5 signature
    the oracle reproduces; ``"xxhash64"`` swaps in the batch fast
    twin's one-instruction hash (see
    :func:`_portable_minhash_sigs`) — the production ingest lane,
    measured in PERF.md round 11; pair-set-vs-expected equality and
    replay idempotency are test-pinned for both.

    ``index_layout``: ``"partitioned"`` (default) keeps the signature
    index as batch-partitioned bare parquet. ``"bucketed"`` stores it
    as a metastore table additionally BUCKETED+SORTED by
    (band, bucket) — VERDICT r8 #7, the r5-measured 478× probe-wire
    design landed: each micro-batch probe then joins the index side
    exchange-free (only the arriving batch's signatures shuffle), so
    the per-batch probe cost that grows with INDEX SIZE — the linear
    term that bends the marginal-cost curve as the corpus accretes —
    drops to batch-sized. Same pair output (oracle-equality-tested),
    same per-batch replay idempotency
    (io/connectors.py:append_index_batch_bucketed drops+rewrites the
    replayed batch's own partition).
    """
    if index_layout not in ("partitioned", "bucketed"):
        raise ValueError(f"unknown index_layout: {index_layout}")
    if hash_engine not in ("portable", "xxhash64"):
        raise ValueError(f"unknown hash_engine: {hash_engine}")
    rows = num_hashes // bands
    if work_dir is None:
        work_dir = os.path.join(
            "/tmp", f"vspace_incr_dedup_{uuid.uuid4().hex[:12]}"
        )
    in_dir = os.path.join(work_dir, "in")
    index_dir = os.path.join(work_dir, "index")
    out_dir = os.path.join(work_dir, "out")
    # bucketed lane: the index is a managed table, named by the same
    # work_dir key that names the directories (identifier-safe hash)
    import hashlib

    index_table = "incr_sig_idx_" + hashlib.md5(
        work_dir.encode()
    ).hexdigest()[:10]

    # A NEW run starts from an empty index/result. Under the
    # partitioned contract an EMPTY batch writes no partition, so a
    # stale batch=<id> partition from an EARLIER run over the same
    # work_dir would silently survive into this run's probe and final
    # read (caught live by the sf0.01 window sweep: range-partition
    # boundaries shifted between runs and a pair surfaced from both
    # runs' batch layouts). WITHIN-run replays of a micro-batch — the
    # idempotency the contract exists for — still overwrite their own
    # partition.
    import shutil

    shutil.rmtree(index_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    if index_layout == "bucketed":
        spark.sql(f"DROP TABLE IF EXISTS {index_table}")
        # the table's warehouse DIRECTORY can outlive the catalog
        # entry — a killed earlier SESSION leaves files while the new
        # session's catalog has nothing to drop, and the first
        # saveAsTable then fails with LOCATION_ALREADY_EXISTS (caught
        # live by the r9 bench rerun). Clear the orphan dir too; the
        # work_dir-keyed table name scopes this to our own leftovers.
        # The managed location is <database location>/<table>, which
        # equals <warehouse.dir>/<table> ONLY in the default database
        # (non-default dbs live under <db>.db/ — ADVICE r9), so
        # resolve the CURRENT database's locationUri via the catalog
        # instead of joining warehouse.dir with the bare table name.
        db_loc = spark.catalog.getDatabase(
            spark.catalog.currentDatabase()
        ).locationUri
        if db_loc.startswith("file:"):
            db_loc = db_loc[len("file:"):]
        shutil.rmtree(os.path.join(db_loc, index_table), ignore_errors=True)

    # materialize the replay with Spark writers (no driver collect);
    # range partitioning by id keeps file contents disjoint
    docs.repartitionByRange(n_input_files, "doc_id").write.mode(
        "overwrite"
    ).parquet(in_dir)

    if index_layout == "bucketed" and index_buckets is None:
        # Adaptive bucket count (VERDICT r9 #5, measured round 10):
        # the count is fixed for the TABLE's lifetime and trades
        # per-batch FILE COUNT (exactly index_buckets files/batch
        # after the connector's repartition fix) against PROBE
        # PARALLELISM (a bucketed-scan join runs one task per
        # bucket). Both regimes measured at 48 batches (PERF.md
        # round 10): 8.3k index rows/batch → 4 buckets beats
        # partitioned (129.0 vs 144.3 s); 83k rows/batch → 4 buckets
        # LOSES 1.9× to 32 (557.6 vs 348.1 s — four probe tasks on a
        # 32-core box). Rule: small batches (< 32k rows) take 4,
        # everything else takes full parallelism capped at 32. Sized
        # from the replay's own footer row counts (free — the files
        # were just written).
        from vspace_spark.operators.scale import footer_row_count

        total_rows = footer_row_count(spark.read.parquet(in_dir))
        if total_rows:
            batch_index_rows = (total_rows / max(n_input_files, 1)) * bands
            index_buckets = (
                4
                if batch_index_rows < 32768
                else min(32, spark.sparkContext.defaultParallelism)
            )
        else:
            index_buckets = 32
    elif index_buckets is None:
        index_buckets = 32

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )

    # Per-batch fixed cost, attacked once per RUN instead of once per
    # micro-batch (VERDICT r13 #2, guide §7.3/§5):
    # - the signature/banding Column trees are built here and reused by
    #   every batch (32 md5 trees + the band structs were re-converted
    #   through py4j per batch);
    # - the rebalance decision is made from the materialized replay's
    #   total decoded bytes (identical rule to rebalance_for_compute's
    #   128 KB floor at one-file batches) instead of re-probing parquet
    #   footers per batch;
    # - the index-probe read gets an EXPLICIT schema, so the per-batch
    #   read_index skips parquet footer schema inference over the
    #   growing index history (the listing itself is one local dir).
    sig_plan = _minhash_sig_plan(
        "doc_id", "text", shingle_n, num_hashes, hash_engine
    )
    bb_col = _banded_col(bands, rows)
    from vspace_spark.operators.scale import _uncompressed_input_bytes

    _total = _uncompressed_input_bytes(spark.read.parquet(in_dir))
    do_rebalance = (
        _total is None or _total / max(n_input_files, 1) >= 128 << 10
    )
    from pyspark.sql import types as T

    idx_schema = T.StructType(
        [
            T.StructField("_id", schema["doc_id"].dataType),
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.StringType()),
            T.StructField("batch", T.IntegerType()),
        ]
    )

    # per-run ledger of ATTEMPTED batch ids: a NEW run always starts
    # from an empty index (DROP TABLE / rmtree above), so within-run
    # closure state answers "are there earlier partitions?" and "was
    # this id already attempted (= engine-level replay)?" without a
    # SHOW PARTITIONS collect + DROP DDL per batch — metastore
    # round-trips were a measurable share of the bucketed lane's
    # small-batch cost (PERF.md round 10). The ledger records the id
    # BEFORE the append runs: if the append partially commits and the
    # foreachBatch fn then fails, the engine retry must still see the
    # id and drop the half-written partition (ADVICE r10) — recording
    # after the append would narrow idempotency to clean replays. An
    # id strictly earlier than the current batch always denotes a
    # COMPLETED append (a failed foreachBatch fails the query, so the
    # stream never advances past it within a run).
    attempted: set[int] = set()

    # the two contract writes per batch (pairs + signatures) are
    # independent given the persisted bb — overlap them from two
    # driver threads (guide §2.6; VERDICT r13 #2: they were the two
    # largest serial terms of the per-batch fixed cost). The pool
    # outlives the stream so cross-batch ordering is still strict:
    # process() joins both futures before returning, and the engine
    # starts batch N+1 only after process(N) returns.
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)

    def process(batch: DataFrame, batch_id: int) -> None:
        bb = _banded(
            _portable_minhash_sigs(
                batch, "doc_id", "text", shingle_n, num_hashes,
                hash_engine=hash_engine,
                _plan=sig_plan,
                _rebalance=do_rebalance,
            ),
            bands,
            rows,
            _bb=bb_col,
        ).persist()
        # Join-probe spread (guide §2 — r13, same rationale as the
        # embedding leg): the banded rows are cached in the batch's
        # partitioning; spreading the probe side keeps the candidate
        # agree-fold off a single task while the index APPEND below
        # still writes from the unspread bb (one file per batch).
        new = bb.repartition(
            batch.sparkSession.sparkContext.defaultParallelism
        ).select(
            F.col("_id").alias("nid"),
            F.col("sig").alias("nsig"),
            "band",
            "bucket",
        )
        # intra-batch candidates (both endpoints arrived together)
        left = new.select(
            F.col("nid").alias("a"),
            F.col("nsig").alias("sig_a"),
            "band",
            "bucket",
        )
        right = new.select(
            F.col("nid").alias("b"),
            F.col("nsig").alias("sig_b"),
            "band",
            "bucket",
        )
        cands = left.join(right, ["band", "bucket"]).filter(
            F.col("a") < F.col("b")
        )
        # index probe (one endpoint ingested in an earlier batch);
        # min/max-normalize so the pair key is orientation-free even
        # if the replay delivers files out of id order. Only batches
        # STRICTLY EARLIER than this one are probed — a replayed batch
        # (failure recovery, or a full reprocess over an existing
        # work_dir) must not see its own or later appends, or the
        # rerun emits pairs twice. The read routes through the shared
        # accreting-index contract (io/connectors.py): `batch` is a
        # partition column, so the < filter statically prunes to the
        # earlier partitions — same file set the old hand-built path
        # list produced.
        # the per-run ledger answers "are there earlier partitions?"
        # for BOTH layouts (r14 — the run starts from an empty
        # index/table, so within-run state is authoritative)
        has_earlier = _has_earlier(
            attempted,
            batch_id,
            () if index_layout == "bucketed" else (index_dir,),
        )
        if has_earlier:
            if index_layout == "bucketed":
                idx = (
                    spark.table(index_table)
                    .filter(F.col("batch") < batch_id)
                    .drop("batch")
                )
            else:
                idx = (
                    read_index(
                        spark, index_dir, fmt="parquet",
                        schema=idx_schema,
                    )
                    .filter(F.col("batch") < batch_id)
                    .drop("batch")
                )
            probe = new.join(idx, ["band", "bucket"]).filter(
                F.col("nid") != F.col("_id")
            )
            cross = probe.select(
                F.least("nid", "_id").alias("a"),
                F.greatest("nid", "_id").alias("b"),
                F.when(F.col("nid") < F.col("_id"), F.col("nsig"))
                .otherwise(F.col("sig"))
                .alias("sig_a"),
                F.when(F.col("nid") < F.col("_id"), F.col("sig"))
                .otherwise(F.col("nsig"))
                .alias("sig_b"),
            )
            cands = cands.select("a", "b", "sig_a", "sig_b").unionByName(
                cross
            )
        else:
            cands = cands.select("a", "b", "sig_a", "sig_b")
        flagged = (
            cands.select("a", "b", agree.alias("agree"))
            .filter(F.col("agree") >= min_agree)
            .distinct()  # one row per pair, however many bands matched
        )
        # both sinks go through the shared contract: per-batch
        # partition, dynamic-overwrite ⇒ a replayed batch replaces its
        # own partition only, never doubles (idempotent). The ledger
        # records the id BEFORE either write runs (see the ledger
        # comment above) — with the writes now concurrent, a failure
        # of either must leave the id marked attempted so the engine
        # retry drops the half-written bucketed partition.
        replayed = batch_id in attempted
        attempted.add(batch_id)
        # pairs write (triggers the candidate join + agree filter) on
        # a pool thread; signature append on this thread. They touch
        # different directories, and the pairs job's probe reads only
        # batch < current partitions (committed before this batch
        # started), so the concurrent batch=current append is never in
        # its file set — hidden staging dirs are filtered by the
        # listing. bb is persisted: whichever job touches a partition
        # first computes it, the other blocks on the cache lock and
        # reads it.
        f_pairs = _submit_append(pool, spark, flagged, out_dir, batch_id)
        try:
            if index_layout == "bucketed":
                # only an engine-level replay of an id this run already
                # ATTEMPTED needs the idempotency DROP — and only when
                # the prior attempt got far enough to create the table
                # (the catalog round-trip is paid on retry paths only)
                append_index_batch_bucketed(
                    spark,
                    bb.select("_id", "sig", "band", "bucket"),
                    index_table,
                    batch_id,
                    bucket_cols=["band", "bucket"],
                    n_buckets=index_buckets,
                    drop_existing=replayed
                    and spark.catalog.tableExists(index_table),
                )
            else:
                append_index_batch(
                    spark,
                    bb.select("_id", "sig", "band", "bucket"),
                    index_dir,
                    batch_id,
                    fmt="parquet",
                )
        finally:
            f_pairs.result()
        bb.unpersist()

    q = stream.writeStream.foreachBatch(process).start()
    try:
        q.processAllAvailable()
        if progress_out is not None:
            # per-micro-batch durations for the marginal-cost curve
            # (scripts/incremental_dedup_bench.py): batchId +
            # batchDuration straight from the engine's progress log
            progress_out.extend(
                {
                    "batch_id": p["batchId"],
                    "duration_ms": p["batchDuration"],
                    "rows": p["numInputRows"],
                }
                for p in q.recentProgress
                if p["numInputRows"] > 0
            )
        if _raw_progress_out is not None:
            # full engine progress (durationMs breakdown) for the
            # per-batch fixed-cost decomposition harness
            import json as _json

            _raw_progress_out.extend(
                _json.loads(p.json) for p in q.recentProgress
            )
    finally:
        q.stop()
        pool.shutdown(wait=True)
    # zero-pairs corpus: partitioned writes of all-empty batches emit
    # NO files (unlike the old per-batch explicit-dir layout, which
    # left empty schema'd part files), so the read would fail on
    # schema inference — return a typed empty result instead
    if not os.path.isdir(out_dir) or not any(
        e.startswith("batch=") for e in os.listdir(out_dir)
    ):
        return spark.createDataFrame([], "a long, b long, agree integer")
    # EAGER materialization, lineage truncated: the fixed keyed
    # work_dir means the NEXT run over the same corpus rmtree's
    # out_dir first — a lazy read returned here would be silently
    # invalidated the moment the caller re-invokes (the stale-lazy-
    # read class the jsonl round-trip documents). localCheckpoint
    # computes the pairs NOW into block storage, so the returned frame
    # no longer references the files at all.
    return (
        read_index(spark, out_dir, fmt="parquet")
        .select("a", "b", "agree")
        .localCheckpoint(eager=True)
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
    _raw_progress_out: list | None = None,
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
      (operators/dedup.py:_segment_index_rows — (length, segment#,
      content) equi-keys), written ONCE per document at ingest;
    - ``keys``: (id, key) for verification and the short-key residual.

    Per batch: intra-batch pairs via the plain segment self-join
    (:func:`~vspace_spark.operators.dedup._hot_pairs_segment`), then
    cross pairs by probing the NEW batch's Lemma-3 substrings
    (``_segment_probe_rows``) against the STORED segments of all
    earlier batches — the index side is never re-derived, which is
    the whole point: per-batch candidate cost is probe-rows(batch) ×
    matched buckets, not |history| re-hashing. Completeness across
    the batch boundary: a pair (new, old) with |old| ≥ k+1 is found
    through old's stored segments (one-directional PassJoin is
    complete — Lemma 3); |old| < k+1 forces |new| ≤ 2k by the length
    band, so the residual lane joins stored short keys against the
    batch's ≤ 2k-char keys (length-banded equi-free slice, both sides
    k-bounded tiny). Union over batches therefore equals the batch
    :func:`~vspace_spark.operators.dedup.passjoin_edit_pairs` pair
    set regardless of replay slicing — the oracle-checkable contract.
    """
    from vspace_spark.operators.dedup import (
        _hot_pairs_segment,
        _segment_index_rows,
        _segment_probe_rows,
    )

    k = max_dist
    if work_dir is None:
        work_dir = os.path.join(
            "/tmp", f"vspace_incr_pj_{uuid.uuid4().hex[:12]}"
        )
    in_dir = os.path.join(work_dir, "in")
    seg_dir = os.path.join(work_dir, "seg")
    keys_dir = os.path.join(work_dir, "keys")
    out_dir = os.path.join(work_dir, "out")
    import shutil

    # new run starts clean (same stale-partition hazard as the
    # signature index — see incremental_minhash_dedup)
    for d in (seg_dir, keys_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)

    docs.select(
        F.col("doc_id"), F.substring(key_col, 1, key_len).alias("_k")
    ).filter(F.col("_k").isNotNull()).repartitionByRange(
        n_input_files, "doc_id"
    ).write.mode("overwrite").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    # per-run probe-read schemas + attempted-id ledger + write-overlap
    # pool (r14, same rationale as the minhash leg)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    _idt = schema["doc_id"].dataType
    seg_schema = T.StructType(
        [
            T.StructField("_rid", _idt),
            T.StructField("_rlen", T.IntegerType()),
            T.StructField("_i", T.IntegerType()),
            T.StructField("_seg", T.StringType()),
            T.StructField("batch", T.IntegerType()),
        ]
    )
    keys_schema = T.StructType(
        [
            T.StructField("_id", _idt),
            T.StructField("_k", T.StringType()),
            T.StructField("batch", T.IntegerType()),
        ]
    )
    attempted: set[int] = set()
    pool = ThreadPoolExecutor(max_workers=2)

    def process(batch: DataFrame, batch_id: int) -> None:
        keyed = batch.select(F.col("doc_id").alias("_id"), "_k").persist()
        keyed.count()  # bounded work: one micro-batch
        intra = _hot_pairs_segment(keyed, [], k)
        has_earlier = _has_earlier(attempted, batch_id, (seg_dir, keys_dir))
        pairs = intra
        if has_earlier:
            seg_old = (
                read_index(
                    spark, seg_dir, fmt="parquet", schema=seg_schema
                )
                .filter(F.col("batch") < batch_id)
                .drop("batch")
            )
            keys_old = (
                read_index(
                    spark, keys_dir, fmt="parquet", schema=keys_schema
                )
                .filter(F.col("batch") < batch_id)
                .drop("batch")
            )
            probe_new = _segment_probe_rows(keyed, [], k)
            cand = (
                probe_new.join(
                    seg_old,
                    (F.col("_Lr") == F.col("_rlen"))
                    & (probe_new._i == seg_old._i)
                    & (F.col("_sub") == F.col("_seg")),
                )
                .select(
                    F.col("_pid").alias("_nid"),
                    F.col("_rid").alias("_oid"),
                )
                .distinct()
            )
            kn = keyed.select(
                F.col("_id").alias("_nid"), F.col("_k").alias("_kn")
            )
            ko = keys_old.select(
                F.col("_id").alias("_oid"), F.col("_k").alias("_ko")
            )
            dist = F.levenshtein("_kn", "_ko", k)
            cross_long = (
                cand.join(kn, "_nid")
                .join(ko, "_oid")
                .select(
                    F.least("_nid", "_oid").alias("a"),
                    F.greatest("_nid", "_oid").alias("b"),
                    dist.alias("dist"),
                )
                .filter(F.col("dist") >= 0)
            )
            # residual: stored key shorter than k+1 (no segments in
            # the index) — its partners are <= 2k chars by the length
            # band, so this slice is k-bounded on both sides
            short_old = keys_old.filter(F.length("_k") < k + 1).select(
                F.col("_id").alias("_oid"), F.col("_k").alias("_ko")
            )
            shortish_new = keyed.filter(F.length("_k") <= 2 * k).select(
                F.col("_id").alias("_nid"), F.col("_k").alias("_kn")
            )
            cross_short = (
                shortish_new.join(
                    short_old,
                    F.abs(F.length("_kn") - F.length("_ko")) <= k,
                )
                .select(
                    F.least("_nid", "_oid").alias("a"),
                    F.greatest("_nid", "_oid").alias("b"),
                    dist.alias("dist"),
                )
                .filter(F.col("dist") >= 0)
            )
            pairs = intra.unionByName(cross_long).unionByName(cross_short)
        flagged = pairs.groupBy("a", "b").agg(F.min("dist").alias("dist"))
        # the three contract writes are independent given the
        # MATERIALIZED keyed (counted above) and touch different
        # directories; the pairs job probes only batch < current
        # partitions of seg/keys — overlap them from driver threads
        # (guide §2.6 — r14, see the minhash leg)
        attempted.add(batch_id)
        f_pairs = _submit_append(pool, spark, flagged, out_dir, batch_id)
        f_keys = _submit_append(
            pool, spark, keyed.select("_id", "_k"), keys_dir, batch_id
        )
        try:
            append_index_batch(
                spark,
                _segment_index_rows(keyed, [], k),
                seg_dir,
                batch_id,
                fmt="parquet",
            )
        finally:
            f_keys.result()
            f_pairs.result()
        keyed.unpersist()

    q = stream.writeStream.foreachBatch(process).start()
    try:
        q.processAllAvailable()
        if progress_out is not None:
            progress_out.extend(
                {
                    "batch_id": p["batchId"],
                    "duration_ms": p["batchDuration"],
                    "rows": p["numInputRows"],
                }
                for p in q.recentProgress
                if p["numInputRows"] > 0
            )
        if _raw_progress_out is not None:
            import json as _json

            _raw_progress_out.extend(
                _json.loads(p.json) for p in q.recentProgress
            )
    finally:
        q.stop()
        pool.shutdown(wait=True)
    if not os.path.isdir(out_dir) or not any(
        e.startswith("batch=") for e in os.listdir(out_dir)
    ):
        return spark.createDataFrame([], "a long, b long, dist integer")
    return (
        read_index(spark, out_dir, fmt="parquet")
        .select("a", "b", "dist")
        .localCheckpoint(eager=True)
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
    carry_vectors: bool = True,
    sig_engine: str = "fold",
    _raw_progress_out: list | None = None,
) -> DataFrame:
    """The EMBEDDING leg of the incremental-dedup trilogy (MinHash
    text signatures, PassJoin edit-distance segments, and now
    hyperplane-LSH cosine): replay ``embeddings`` as a multi-batch
    file stream and near-dup each micro-batch against the accreting
    bucket index. Returns PAIRS ``[a, b, cos]`` (a < b, exact cosine
    ≥ ``threshold``, rounded to 6 — the float discipline).

    The index accretes through the shared per-batch-partition
    contract. ``carry_vectors=True`` (default) stores the vector IN
    each LSH posting (id, vector, table, bucket), so a probe is ONE
    equi-join on (table, bucket) and the cosine confirm reads the
    matched rows directly. The r11 100× measurement motivated this:
    the original two-relation layout (id-only postings + a separate
    ``vecs`` relation) re-shuffled the ENTIRE vector history through
    the candidate→vector join every micro-batch — a per-batch cost
    linear in corpus history (slope +292 ms/batch at 200k vectors),
    which is quadratic total ingest work. Carrying the vector costs
    ``n_tables``× vector storage in the postings; for high-dim
    embeddings where that dominates, ``carry_vectors=False`` keeps
    the two-relation layout (same output, equality-tested) — at
    warehouse scale its ``vecs`` relation would be bucketed by id so
    the candidate join co-locates instead of re-shuffling history.
    Buckets use the PORTABLE md5 hyperplanes (every sign bit exact in
    IEEE double on any engine), so the union over batches equals the
    batch LSH pair set and the operator is fully oracle-checkable
    with the same SQL as ``stream_dedup_docs``'s embedding twin — the
    batch-boundary-independence argument is the module docstring's:
    each qualifying pair surfaces exactly once, via the index probe
    when its endpoints arrive apart or the intra-batch self-join when
    together.

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

    if work_dir is None:
        work_dir = os.path.join(
            "/tmp", f"vspace_incr_emb_{uuid.uuid4().hex[:12]}"
        )
    in_dir = os.path.join(work_dir, "in")
    idx_dir = os.path.join(work_dir, "idx")
    vecs_dir = os.path.join(work_dir, "vecs")
    out_dir = os.path.join(work_dir, "out")
    import shutil

    for d in (idx_dir, vecs_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)

    embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).repartitionByRange(n_input_files, "_id").write.mode(
        "overwrite"
    ).parquet(in_dir)

    # dim from the materialized replay's first row — bounded-collect:
    # one scalar (the hyperplanes are a driver-side literal table)
    dim = spark.read.parquet(in_dir).select(F.size("_v")).first()[0]
    if bits_per_table is None:
        # auto-size from the replay's parquet footers (a metadata
        # read; count() only as fallback) — see docstring for the rule
        n_est = footer_row_count(spark.read.parquet(in_dir))
        if n_est is None:
            n_est = spark.read.parquet(in_dir).count()
        bits, bits_per_table = _auto_lsh_layout(n_est, bits)
    n_tables = bits // bits_per_table
    if n_tables < 1:
        raise ValueError(
            f"bits_per_table ({bits_per_table}) exceeds bits ({bits}): "
            "n_tables would be 0 and every pair would be silently missed"
        )
    planes = portable_hyperplanes(dim, bits)

    # bucketed_fold runs once per MICRO-BATCH: its constant-size
    # bucket column is built once, not a literal tree per batch (r13:
    # seconds of driver time each)
    _fold_tb = F.explode(
        lsh_buckets(F.col("_v"), planes, bits_per_table, n_tables)
    ).alias("_tb")

    def bucketed_fold(df: DataFrame) -> DataFrame:
        return df.select("_id", "_v", _fold_tb).select(
            "_id", "_v", F.col("_tb.tbl"), F.col("_tb.bucket")
        )

    # plain literals so the closure is self-contained (executors
    # cannot import this repo when the driver runs elsewhere —
    # NOTES.md seam #2, same as brute_force_topk_arrow)
    planes_lit = [[float(x) for x in p] for p in planes[: bits]]
    n_tables_lit, bpt_lit = n_tables, bits_per_table

    def bucketed_arrow(df: DataFrame) -> DataFrame:
        def sigs(batches):
            import numpy as np
            import pandas as pd

            P = np.asarray(planes_lit, dtype=np.float64)  # bits × dim
            weights = (
                2 ** np.arange(bpt_lit, dtype=np.int64)
            )  # bit j → 2^j within its table
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
                )
                bits_on = (V @ P.T) > 0  # rows × bits, one matmul
                out_frames = []
                for t in range(n_tables_lit):
                    chunk = bits_on[:, t * bpt_lit : (t + 1) * bpt_lit]
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "_id": pdf["_id"].to_numpy(),
                                "_v": pdf["_v"].to_numpy(),
                                "tbl": np.full(len(pdf), t, dtype=np.int32),
                                "bucket": chunk @ weights,
                            }
                        )
                    )
                yield pd.concat(out_frames, ignore_index=True)

        return df.mapInPandas(
            sigs,
            schema=(
                "_id long, _v array<float>, tbl int, bucket long"
            ),
        )

    bucketed = bucketed_arrow if sig_engine == "arrow" else bucketed_fold

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    # RAW cosine for the threshold filter (the oracle's WHERE cos >=
    # threshold also filters the raw value, rounding only in SELECT —
    # filtering the rounded value would disagree on cosines in
    # [threshold - 5e-7, threshold)); round only for the output column.
    cos_raw = cosine_similarity(F.col("_va"), F.col("_vb"))

    # per-run probe-read schemas + attempted-id ledger + write-overlap
    # pool (r14, same rationale as the minhash leg: skip per-batch
    # footer schema inference over the growing index, answer
    # "earlier partitions?" from within-run state, and overlap the
    # independent contract writes from two driver threads)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    _idt = schema["_id"].dataType
    _vt = schema["_v"].dataType
    _posting = [
        T.StructField("_id", _idt),
        T.StructField("tbl", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
    if carry_vectors:
        _posting.insert(1, T.StructField("_v", _vt))
    idx_schema = T.StructType(_posting)
    vecs_schema = T.StructType(
        [
            T.StructField("_id", _idt),
            T.StructField("_v", _vt),
            T.StructField("batch", T.IntegerType()),
        ]
    )
    attempted: set[int] = set()
    pool = ThreadPoolExecutor(max_workers=2)

    def process(batch: DataFrame, batch_id: int) -> None:
        bb = bucketed(batch).persist()
        bb.count()  # bounded work: one micro-batch
        # The JOIN PROBE side rides a round-robin spread of the tiny
        # posting set (guide §2 — r13): bb is cached in the batch's
        # IO partitioning (ONE partition for a one-file trigger), the
        # planner broadcasts the other join side, and the interpreted
        # cosine confirm then ran single-task over every candidate —
        # measured 2–3.6 s/batch at 244k candidates (probe in
        # OPTIMIZATION_r13.md). Spreading batch-sized posting rows is
        # a KB-scale shuffle; the index APPEND below still writes from
        # the unspread bb, so the accreting index keeps one file per
        # batch.
        spread = bb.repartition(
            batch.sparkSession.sparkContext.defaultParallelism
        )
        left = spread.select(
            F.col("_id").alias("a"), F.col("_v").alias("_va"),
            "tbl", "bucket",
        )
        right = bb.select(
            F.col("_id").alias("b"), F.col("_v").alias("_vb"),
            "tbl", "bucket",
        )
        cands = (
            left.join(right, ["tbl", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "_va", "_vb")
        )
        has_earlier = _has_earlier(
            attempted,
            batch_id,
            (idx_dir,) if carry_vectors else (idx_dir, vecs_dir),
        )
        if has_earlier:
            idx = (
                read_index(
                    spark, idx_dir, fmt="parquet", schema=idx_schema
                )
                .filter(F.col("batch") < batch_id)
                .drop("batch")
            )
            new_side = spread.select(
                F.col("_id").alias("nid"),
                F.col("_v").alias("nv"),
                "tbl",
                "bucket",
            )
            if carry_vectors:
                # postings carry the vector: ONE (tbl, bucket) join
                # yields candidate rows with both vectors in hand —
                # no history-sized second shuffle
                probe = new_side.join(
                    idx.withColumnRenamed("_id", "_oid")
                    .withColumnRenamed("_v", "_ov"),
                    ["tbl", "bucket"],
                ).filter(F.col("nid") != F.col("_oid"))
            else:
                vecs_old = (
                    read_index(
                        spark, vecs_dir, fmt="parquet",
                        schema=vecs_schema,
                    )
                    .filter(F.col("batch") < batch_id)
                    .drop("batch")
                )
                matched = new_side.join(idx, ["tbl", "bucket"]).filter(
                    F.col("nid") != F.col("_id")
                )
                probe = matched.join(
                    vecs_old.withColumnRenamed("_id", "_oid")
                    .withColumnRenamed("_v", "_ov"),
                    matched["_id"] == F.col("_oid"),
                )
            cross = probe.select(
                F.least("nid", "_oid").alias("a"),
                F.greatest("nid", "_oid").alias("b"),
                F.when(F.col("nid") < F.col("_oid"), F.col("nv"))
                .otherwise(F.col("_ov"))
                .alias("_va"),
                F.when(F.col("nid") < F.col("_oid"), F.col("_ov"))
                .otherwise(F.col("nv"))
                .alias("_vb"),
            )
            cands = cands.unionByName(cross)
        flagged = (
            cands.select("a", "b", cos_raw.alias("_cos_raw"))
            .filter(F.col("_cos_raw") >= threshold)
            .select("a", "b", F.round("_cos_raw", 6).alias("cos"))
            .distinct()  # one row per pair, however many tables matched
        )
        # contract writes overlap (guide §2.6 — r14, see the minhash
        # leg): the pairs write (probe join + cosine confirm) and the
        # posting/vector appends are independent given the
        # MATERIALIZED bb (counted above) and touch different
        # directories; the probe reads only batch < current partitions
        attempted.add(batch_id)
        f_pairs = _submit_append(pool, spark, flagged, out_dir, batch_id)
        try:
            if carry_vectors:
                append_index_batch(
                    spark,
                    bb.select("_id", "_v", "tbl", "bucket"),
                    idx_dir,
                    batch_id,
                    fmt="parquet",
                )
            else:
                f_vecs = _submit_append(
                    pool, spark, bb.select("_id", "_v").distinct(),
                    vecs_dir, batch_id,
                )
                try:
                    append_index_batch(
                        spark,
                        bb.select("_id", "tbl", "bucket"),
                        idx_dir,
                        batch_id,
                        fmt="parquet",
                    )
                finally:
                    f_vecs.result()
        finally:
            f_pairs.result()
        bb.unpersist()

    q = stream.writeStream.foreachBatch(process).start()
    try:
        q.processAllAvailable()
        if progress_out is not None:
            progress_out.extend(
                {
                    "batch_id": p["batchId"],
                    "duration_ms": p["batchDuration"],
                    "rows": p["numInputRows"],
                }
                for p in q.recentProgress
                if p["numInputRows"] > 0
            )
        if _raw_progress_out is not None:
            import json as _json

            _raw_progress_out.extend(
                _json.loads(p.json) for p in q.recentProgress
            )
    finally:
        q.stop()
        pool.shutdown(wait=True)
    if not os.path.isdir(out_dir) or not any(
        e.startswith("batch=") for e in os.listdir(out_dir)
    ):
        return spark.createDataFrame([], "a long, b long, cos double")
    return (
        read_index(spark, out_dir, fmt="parquet")
        .select("a", "b", "cos")
        .localCheckpoint(eager=True)
    )
