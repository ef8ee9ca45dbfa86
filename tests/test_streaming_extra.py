"""foreachBatch sink + connector gating tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vspace_spark.io.connectors import (
    ConnectorUnavailable,
    read_delta,
    read_iceberg,
)
from vspace_spark.streaming.events import (
    read_events_stream,
    run_stream_foreach_batch_parquet,
)


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type"
    )
    out = str(tmp_path / "sink")
    batches = run_stream_foreach_batch_parquet(stream, out)
    assert batches, "at least one micro-batch"
    written = spark.read.parquet(out)
    assert written.count() == 1000  # all sf0.001 events, exactly once
    assert written.select("event_id").distinct().count() == 1000


def test_delta_connector_gated(spark):
    from vspace_spark.io.connectors import delta_available

    if delta_available(spark):
        pytest.skip("delta jars present — gate test is vacuous here")
    with pytest.raises(ConnectorUnavailable, match="delta-spark"):
        read_delta(spark, "/tmp/nope")


def test_iceberg_connector_gated(spark):
    with pytest.raises(ConnectorUnavailable, match="iceberg-spark-runtime"):
        read_iceberg(spark, "db.tbl")


def _index_batches(spark):
    return [
        spark.createDataFrame(
            [(i * 10 + j, f"sig{i}_{j}") for j in range(5)],
            "doc_id long, sig string",
        )
        for i in range(3)
    ]


def test_append_index_parquet_idempotent_replay(spark, tmp_path):
    """The accreting-index storage contract on bare parquet (the form
    this container can run end-to-end): three batch appends land in
    batch=<id> partitions; REPLAYING one batch overwrites its own
    partition only (dynamic partition overwrite), so the index never
    double-counts and other batches are untouched."""
    from vspace_spark.io.connectors import append_index_batch, read_index

    path = str(tmp_path / "idx")
    for i, b in enumerate(_index_batches(spark)):
        append_index_batch(spark, b, path, i, fmt="parquet")
    idx = read_index(spark, path, fmt="parquet")
    assert idx.count() == 15
    # replay batch 1 (failure recovery): same rows, no duplication
    append_index_batch(
        spark, _index_batches(spark)[1], path, 1, fmt="parquet"
    )
    after = read_index(spark, path, fmt="parquet")
    assert after.count() == 15
    assert after.filter("batch = 1").count() == 5
    assert after.select("doc_id").distinct().count() == 15


def test_append_index_leaves_session_overwrite_mode_untouched(
    spark, tmp_path
):
    """The parquet append scopes dynamic partition overwrite to the
    WRITER (per-write option), never the session conf (ADVICE r5): a
    concurrent static partitioned overwrite on the same session (e.g.
    write_token_shards' whole-root replacement) must not observe a
    'dynamic' window and silently keep stale partitions."""
    from vspace_spark.io.connectors import append_index_batch

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, "static")
    assert before == "static"
    append_index_batch(
        spark, _index_batches(spark)[0], str(tmp_path / "idx2"), 0,
        fmt="parquet",
    )
    assert spark.conf.get(key, "static") == "static"


def test_append_index_delta_roundtrip(spark, tmp_path):
    """The SAME contract through the Delta writer (ACID replaceWhere).
    Runs for real when the Delta jars are on the classpath; skips
    cleanly here (this container ships no lakehouse jars — VERDICT r4
    #8 / NOTES r3 #4)."""
    from vspace_spark.io.connectors import (
        append_index_batch,
        delta_available,
        read_index,
    )

    if not delta_available(spark):
        pytest.skip("delta jars absent in this container")
    path = str(tmp_path / "idx_delta")
    for i, b in enumerate(_index_batches(spark)):
        append_index_batch(spark, b, path, i, fmt="delta")
    append_index_batch(spark, _index_batches(spark)[1], path, 1)
    after = read_index(spark, path, fmt="delta")
    assert after.count() == 15
    assert after.filter("batch = 1").count() == 5


def test_stream_dedup_drops_late_duplicates(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark with REAL duplicates: replay the
    events file twice into a watched directory; second batch's rows are
    duplicates within the watermark window and must be dropped."""
    import shutil

    src = str(tmp_path / "stream_src")
    out_rows = []
    import os

    os.makedirs(src)
    from vspace_spark.io.tables import normalize_event_ts
    from vspace_spark.streaming.events import dedup_stream, events_schema

    stream = normalize_event_ts(
        spark.readStream.schema(events_schema(spark, f"{sf_dir}/events.parquet"))
        .format("parquet")
        .load(src)
    )
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_late")
        .start()
    )
    try:
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a.parquet")
        q.processAllAvailable()
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/b.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.sql("SELECT count(*) FROM dedup_late").first()[0]
    distinct = spark.sql(
        "SELECT count(DISTINCT event_id) FROM dedup_late"
    ).first()[0]
    assert n == 1000 and distinct == 1000, (n, distinct)


def test_streaming_pandas_histogram_matches_hof(spark, sf_dir):
    """The Arrow-vectorized streaming histogram (the measured ingest
    hot path, scripts/streaming_bench.py) is row-for-row identical to
    the interpreted-HOF formulation the registered query uses — and to
    the same aggregation run in batch."""
    from vspace_spark.io.tables import load_table
    from vspace_spark.streaming.corpus import (
        read_documents_stream,
        streaming_term_stats,
        streaming_term_stats_pandas,
    )
    from vspace_spark.streaming.events import run_stream_to_memory

    stream = read_documents_stream(spark, sf_dir)
    fast = run_stream_to_memory(
        streaming_term_stats_pandas(stream), "complete"
    )
    batch = streaming_term_stats(load_table(spark, sf_dir, "documents"))
    got = {tuple(r) for r in fast.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


class TestIncrementalIndexDedup:
    """The growing-index dedup must actually exercise the index-probe
    path (cross-batch pairs), not just the intra-batch self-join, and
    its per-batch writes must be idempotent under replay."""

    def _clones(self, spark):
        # 6 verbatim clones of one text + 4 unique docs, ids spread so
        # range partitioning puts clones in DIFFERENT input files
        dup = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(i, dup if i % 2 == 0 else f"unique {i} " * 6) for i in range(10)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cross_batch_pairs_found(self, spark, tmp_path):
        from vspace_spark.streaming.incremental import (
            incremental_minhash_dedup,
        )

        docs = self._clones(spark)
        pairs = incremental_minhash_dedup(
            spark,
            docs,
            work_dir=str(tmp_path / "w"),
            n_input_files=5,
        ).collect()
        got = {(r.a, r.b) for r in pairs}
        clones = [0, 2, 4, 6, 8]
        want = {
            (a, b) for a in clones for b in clones if a < b
        }
        assert got == want  # every clone pair, nothing else
        # with 2 docs per range file, every pair with |a-b| > 2 spans
        # batches — those can only come from the index probe
        assert any(b - a > 2 for a, b in got)
        for r in pairs:
            assert r.agree == 32  # verbatim clones agree on all hashes

    def test_zero_pair_corpus_returns_typed_empty(self, spark, tmp_path):
        """All-unique corpus → no batch ever writes a result row →
        the partitioned out dir has NO files; the read must return a
        typed empty frame, not crash on schema inference (regression:
        the old per-batch explicit-dir layout left empty schema'd
        part files, the partitionBy layout does not)."""
        from vspace_spark.streaming.incremental import (
            incremental_minhash_dedup,
        )

        rows = [
            (i, f"unique words {i} only here {i * 7} nothing {i * 13}")
            for i in range(6)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = incremental_minhash_dedup(
            spark, docs, work_dir=str(tmp_path / "w0"), n_input_files=3
        )
        assert pairs.count() == 0
        assert [f.name for f in pairs.schema.fields] == ["a", "b", "agree"]

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from vspace_spark.streaming.incremental import (
            incremental_minhash_dedup,
        )

        work = str(tmp_path / "w2")
        docs = self._clones(spark)
        first = incremental_minhash_dedup(
            spark, docs, work_dir=work, n_input_files=5
        )
        n_first = first.count()
        # simulate a replayed micro-batch: rerunning the whole stream
        # over the same work_dir overwrites each batch=<id> subdir
        # rather than appending duplicates
        schema = spark.read.parquet(os.path.join(work, "in")).schema
        assert n_first > 0 and "a" in first.columns
        again = incremental_minhash_dedup(
            spark, docs, work_dir=work, n_input_files=5
        )
        assert again.count() == n_first
        assert again.groupBy("a", "b").count().filter(
            F.col("count") > 1
        ).count() == 0
        _ = schema  # schema probe doubles as an in-dir sanity check

    def test_result_frame_survives_reinvocation(self, spark, tmp_path):
        """A returned pair frame must stay valid after the NEXT run
        over the same fixed work_dir rmtree's the output dir
        (ADVICE r5): the result is eagerly localCheckpoint'ed, so it
        no longer references the files. The second run uses a SMALLER
        corpus so a stale lazy re-read would return a different count
        (identical reruns would mask the bug)."""
        from vspace_spark.streaming.incremental import (
            incremental_minhash_dedup,
        )

        work = str(tmp_path / "w3")
        docs = self._clones(spark)
        first = incremental_minhash_dedup(
            spark, docs, work_dir=work, n_input_files=5
        )
        n_first = first.count()
        assert n_first == 10  # all clone pairs
        second = incremental_minhash_dedup(
            spark,
            docs.filter("doc_id < 4"),  # clones 0,2 -> exactly 1 pair
            work_dir=work,
            n_input_files=2,
        )
        assert second.count() == 1
        assert first.count() == n_first  # held frame unaffected

    def test_progress_keeps_every_batch_past_the_engine_cap(
        self, spark, tmp_path
    ):
        """progress_out holds one record per data batch even when the
        engine's recentProgress ring keeps fewer updates than the run
        has batches."""
        from vspace_spark.streaming.incremental import (
            incremental_minhash_dedup,
        )

        conf = "spark.sql.streaming.numRecentProgressUpdates"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, "2")
        progress: list = []
        try:
            incremental_minhash_dedup(
                spark, self._clones(spark), work_dir=str(tmp_path / "p"),
                n_input_files=5, progress_out=progress,
            )
        finally:
            spark.conf.set(conf, prev)
        assert [p["batch_id"] for p in progress] == [0, 1, 2, 3, 4]
        assert sum(p["rows"] for p in progress) == 10
        for p in progress:
            assert p["duration_ms"] > 0 and "addBatch" in p["durationMs"]

    def test_failed_batch_surfaces_and_rerun_is_clean(
        self, spark, tmp_path, monkeypatch
    ):
        """A contract write that fails mid-run fails the operator, stops
        its stream, and a rerun over the same work_dir returns exactly
        the clean run's pairs."""
        import vspace_spark.streaming.incremental as inc

        docs = self._clones(spark)

        def pairs(work):
            return {
                (r.a, r.b, r.agree)
                for r in inc.incremental_minhash_dedup(
                    spark, docs, work_dir=work, n_input_files=5
                ).collect()
            }

        clean = pairs(str(tmp_path / "clean"))
        real = inc.append_index_batch

        def failing(spark_, df, path, batch_id, fmt="delta"):
            if batch_id == 2:
                raise RuntimeError("injected write failure")
            return real(spark_, df, path, batch_id, fmt=fmt)

        work = str(tmp_path / "w")
        monkeypatch.setattr(inc, "append_index_batch", failing)
        with pytest.raises(Exception, match="injected write failure"):
            pairs(work)
        assert spark.streams.active == []
        monkeypatch.undo()
        assert pairs(work) == clean

    def test_batch_without_postings_is_not_probed(
        self, spark, tmp_path, monkeypatch
    ):
        """The first range file holds only docs under 3 tokens, so its
        batch writes no postings; the next batch must not read an index
        directory that does not exist, and the pair set is unchanged."""
        import os

        import vspace_spark.streaming.incremental as inc

        dup = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(0, "tiny"), (1, "two words")] + [
            (i, dup if i % 2 == 0 else f"unique {i} " * 6)
            for i in range(2, 10)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        real = inc.read_index
        missing: list = []

        def checked(spark_, path, *args, **kwargs):
            if not os.path.isdir(path):
                missing.append(path)
            return real(spark_, path, *args, **kwargs)

        monkeypatch.setattr(inc, "read_index", checked)
        got = {
            (r.a, r.b)
            for r in inc.incremental_minhash_dedup(
                spark, docs, work_dir=str(tmp_path / "e"), n_input_files=5
            ).collect()
        }
        assert missing == []
        clones = [2, 4, 6, 8]
        assert got == {(a, b) for a in clones for b in clones if a < b}


def test_stateful_transition_counts_spanning_arrow_chunks(
    spark, sf_dir, duck, tmp_path
):
    """ADVICE r3 regression: applyInPandasWithState delivers one
    group's micro-batch rows as arbitrarily split, UNORDERED Arrow
    chunks. Replay a row-shuffled copy of the events fixture (the real
    file happens to be ts-sorted, which hid the bug) with 2-row Arrow
    batches, so every user's micro-batch spans many chunks in
    scrambled order, and require the summed transition counts to still
    equal the batch lag-window oracle — the old per-chunk
    sort-and-bridge miscounted exactly this shape."""
    import random

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vspace_spark.io.tables import normalize_event_ts
    from vspace_spark.streaming.events import (
        events_schema,
        run_stream_to_memory,
        stateful_transition_counts,
    )

    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    idx = list(range(tbl.num_rows))
    random.Random(13).shuffle(idx)
    src = tmp_path / "shuffled"
    src.mkdir()
    pq.write_table(tbl.take(idx), str(src / "events.parquet"))

    stream = normalize_event_ts(
        spark.readStream.schema(
            events_schema(spark, str(src / "events.parquet"))
        )
        .format("parquet")
        .load(str(src))
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        per_user = run_stream_to_memory(
            stateful_transition_counts(stream), "update"
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )
    got = {
        (r.from_type, r.to_type): r.n
        for r in per_user.groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("long").alias("n"))
        .collect()
    }
    want = {
        (f, t): n
        for f, t, n in duck.execute(
            """
            WITH p AS (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ) AS f, event_type AS t
              FROM events
            )
            SELECT f, t, count(*)::BIGINT FROM p
            WHERE f IS NOT NULL GROUP BY f, t
            """
        ).fetchall()
    }
    assert got == want


def test_stream_dedup_docs_minhash_collapse_on_planted_clones(
    spark, tmp_path
):
    """The static-index clone collapse (r4) must leave the streaming
    near-dup output identical to the uncollapsed batch oracle on a
    clone-heavy corpus — the bundled fixtures carry few verbatim
    clones, so plant them: a clone group (intra pairs must surface
    with est 1.0 through the member expansion), a near-dup bridging
    into it, and sub-3-token docs (no shingles, never pair)."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from vspace_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    base = [f"w{i}" for i in range(30)]
    t1 = " ".join(base)
    t1b = " ".join(w if i != 15 else "xx" for i, w in enumerate(base))
    rows = [
        (1, t1, "s1"), (2, t1, "s1"), (3, t1, "s2"),
        (4, t1b, "s1"),
        (5, "tiny doc", "s1"),
        (6, "some completely different unrelated content here", "s1"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    d = str(tmp_path / "sfsm")
    docs.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    got = (
        QUERIES["stream_dedup_docs_minhash"](spark, d)
        .toPandas()
        .sort_values(["a", "b"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    want = (
        con.execute(ORACLES["stream_dedup_docs_minhash"]).df()
        .sort_values(["a", "b"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)],
        check_dtype=False, check_exact=True,
    )
    pairs = set(zip(got["a"], got["b"]))
    assert {(1, 2), (1, 3), (2, 3)} <= pairs  # clones, incl. cross-source
    assert not any(5 in p for p in pairs)


class TestIncrementalPassjoin:
    def _near_docs(self, spark):
        """Near-dup fixture with pairs that MUST cross batch
        boundaries under n_input_files=5 (ids range-partition), plus
        short keys (< k+1) exercising both residual lanes."""
        rows = (
            [(i, f"alpha beta gam{i}") for i in range(10)]
            + [(20 + i, "alpha beta gamma!") for i in range(5)]
            + [(40, "zz"), (41, "zz"), (42, "z")]  # short-key cluster
            + [(50, "totally different key")]
        )
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize(
        "fixed", [False, True], ids=["near_docs", "fixed_corpus"]
    )
    def test_matches_batch_passjoin(
        self, spark, tmp_path, fixed_fuzzy_corpus, fixed
    ):
        """VERDICT r9 #8: the persisted-segment-index incremental path
        must emit exactly the batch passjoin_edit_pairs set — the
        same batch-boundary-independence contract the signature index
        has — and be replay-idempotent over the same work_dir. Run on
        the near-dup fixture in 5 batches and on the property tests'
        fixed "abc" corpus in 3."""
        from vspace_spark.operators.dedup import passjoin_edit_pairs
        from vspace_spark.streaming.incremental import (
            incremental_passjoin_dedup,
        )

        k = 3
        if fixed:
            docs = spark.createDataFrame(
                list(enumerate(fixed_fuzzy_corpus)), "doc_id long, text string"
            )
            key_len, n_input_files = 24, 3
        else:
            docs, key_len, n_input_files = self._near_docs(spark), 20, 5
        work = str(tmp_path / "pj")

        def run():
            inc = incremental_passjoin_dedup(
                spark, docs, key_len=key_len, max_dist=k, work_dir=work,
                n_input_files=n_input_files,
            )
            return {(r.a, r.b, r.dist) for r in inc.collect()}

        got = run()
        want = {
            (r.a, r.b, r.dist)
            for r in passjoin_edit_pairs(
                docs,
                F.substring("text", 1, key_len),
                block=[],
                max_dist=k,
            ).collect()
        }
        assert got == want, got ^ want
        assert len(got) > 0
        pairs = {(a, b) for a, b, _ in got}
        if fixed:
            # a stored short key (< k+1 chars, no segments) pairs with a
            # later batch's key of at most 2k chars: the cross-batch
            # residual lane
            stored = {
                r._id: (len(r._k), r.batch)
                for r in spark.read.parquet(f"{work}/keys").collect()
            }
            assert len({b for _, b in stored.values()}) == n_input_files
            assert any(
                stored[old][0] < k + 1
                and stored[new][0] <= 2 * k
                and stored[old][1] < stored[new][1]
                for a, b in pairs
                for old, new in ((a, b), (b, a))
            ), (pairs, stored)
        else:
            # cross-batch evidence: at n_input_files=5 the clone cluster
            # 20..24 spans batches, and (40,41)/(40,42) are short-lane
            assert (40, 41) in pairs and (40, 42) in pairs
        assert run() == want  # replay idempotency


def test_has_earlier_needs_every_probe_dir(tmp_path):
    """The probe runs only when an earlier batch was attempted and
    EVERY directory it reads exists — a missing sibling (PassJoin's
    seg beside keys) must not reach the reader as PATH_NOT_FOUND."""
    from vspace_spark.streaming.incremental import _has_earlier

    keys, seg = tmp_path / "keys", tmp_path / "seg"
    keys.mkdir()
    assert _has_earlier({0}, 1, (str(keys),))
    assert not _has_earlier({0}, 1, (str(keys), str(seg)))
    assert not _has_earlier({1}, 1, (str(keys),))  # replay of itself


def test_thread_target_falls_back_outside_pinned_mode(spark, monkeypatch):
    """Outside PySpark's pinned-thread mode ``inheritable_thread_target
    (spark)`` returns the session itself, and calling that with a
    target raised TypeError in every driver-thread pool; the helper
    then runs the target unwrapped."""
    import py4j.clientserver
    from pyspark import inheritable_thread_target

    from vspace_spark.streaming.incremental import _thread_target

    def fn():
        return 7

    assert _thread_target(spark, fn)() == 7  # pinned: wrapped

    class NotPinned:
        pass

    monkeypatch.setattr(py4j.clientserver, "ClientServer", NotPinned)
    assert inheritable_thread_target(spark) is spark
    assert _thread_target(spark, fn) is fn


# Most Spark jobs one micro-batch of each leg may run. Under AQE every
# query stage ran as a job of its own: 13, 11 and 17 per batch. PassJoin
# ran 11 until one probe of new and stored segments replaced its
# self-join, cross-batch probe and cross-batch residual.
_BATCH_JOB_CEILINGS = {"minhash": 3, "fold": 5, "arrow": 5, "passjoin": 6}


def test_replay_batches_run_few_jobs_and_leave_caller_aqe_on(
    spark, tmp_path
):
    """Every leg plans its micro-batches without AQE, on the stream's
    own session: ``progress_out`` records at most 3 Spark jobs per
    MinHash batch, 5 per embedding batch (both ``sig_engine`` values)
    and 6 per PassJoin batch. The first probing batch records its
    pairs plan: the MinHash postings are joined as the aggregate left
    them, the embedding postings are spread round-robin first. The
    caller's session keeps AQE on throughout."""
    import numpy as np

    from vspace_spark.streaming.incremental import (
        incremental_embedding_dedup,
        incremental_minhash_dedup,
        incremental_passjoin_dedup,
    )

    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    rng = np.random.default_rng(13)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )

    def embedding(engine):
        return lambda work, progress: incremental_embedding_dedup(
            spark, emb, bits=32, bits_per_table=4, threshold=0.4,
            work_dir=work, n_input_files=3, progress_out=progress,
            sig_engine=engine,
        )

    legs = {
        "minhash": lambda work, progress: incremental_minhash_dedup(
            spark, TestIncrementalIndexDedup()._clones(spark),
            work_dir=work, n_input_files=3, progress_out=progress,
        ),
        "fold": embedding("fold"),
        "arrow": embedding("arrow"),
        "passjoin": lambda work, progress: incremental_passjoin_dedup(
            spark, TestIncrementalPassjoin()._near_docs(spark),
            work_dir=work, n_input_files=3, progress_out=progress,
        ),
    }
    plans = {}
    for leg, run in legs.items():
        progress: list = []
        run(str(tmp_path / leg), progress)
        assert [p["batch_id"] for p in progress] == [0, 1, 2], leg
        jobs = [p["jobs"] for p in progress]
        assert all(1 <= j <= _BATCH_JOB_CEILINGS[leg] for j in jobs), (
            leg, jobs,
        )
        assert [p["batch_id"] for p in progress if "plan" in p] == [1], leg
        plans[leg] = progress[1]["plan"]
    assert "RoundRobinPartitioning" not in plans["minhash"]
    assert "RoundRobinPartitioning" in plans["fold"]
    assert "RoundRobinPartitioning" in plans["arrow"]
    assert spark.conf.get(key) == "true"


def _assert_embedding_matches_batch_lsh(spark, emb, work, n_input_files):
    """The embedding leg's union over micro-batches equals the BATCH
    hyperplane-LSH pair set (same portable planes, same exact-cosine
    confirm) — the batch-boundary-independence contract — and a replay
    over the same work_dir is idempotent."""
    from vspace_spark.functions.vectors import cosine_similarity
    from vspace_spark.operators.similarity import (
        lsh_signature,
        portable_hyperplanes,
    )
    from vspace_spark.streaming.incremental import (
        incremental_embedding_dedup,
    )

    inc = incremental_embedding_dedup(
        spark, emb, bits=32, bits_per_table=4, threshold=0.4,
        work_dir=work, n_input_files=n_input_files,
    )
    got = {(r.a, r.b, r.cos) for r in inc.collect()}

    planes = portable_hyperplanes(64, 32)
    sigs = emb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        lsh_signature(
                            F.col("embedding"),
                            planes[t * 4 : (t + 1) * 4],
                        ).alias("bucket"),
                    )
                    for t in range(8)
                ]
            )
        ).alias("_tb"),
    ).select("vec_id", "embedding", "_tb.tbl", "_tb.bucket")
    left = sigs.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("_va"),
        "tbl",
        "bucket",
    )
    right = sigs.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("_vb"),
        "tbl",
        "bucket",
    )
    want = {
        (r.a, r.b, r.cos)
        for r in left.join(right, ["tbl", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            cosine_similarity(F.col("_va"), F.col("_vb")).alias("_c"),
        )
        # RAW-value filter, then round — matching the operator and
        # the registered oracle (ADVICE r10 medium)
        .filter(F.col("_c") >= 0.4)
        .select("a", "b", F.round("_c", 6).alias("cos"))
        .distinct()
        .collect()
    }
    assert got == want, (len(got), len(want))
    assert len(got) > 0
    again = incremental_embedding_dedup(
        spark, emb, bits=32, bits_per_table=4, threshold=0.4,
        work_dir=work, n_input_files=n_input_files,
    )
    assert {(r.a, r.b, r.cos) for r in again.collect()} == want


class TestIncrementalEmbedding:
    @pytest.mark.slow  # >20 s (measured r14): driver verify-window budget
    def test_matches_batch_lsh_pairs(self, spark, sf_dir, tmp_path):
        """The embedding leg of the accreting-index trilogy equals the
        batch LSH pair set and replays idempotently, over 5 batches
        of the configured scale."""
        from vspace_spark.io.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        _assert_embedding_matches_batch_lsh(
            spark, emb, str(tmp_path / "emb"), 5
        )

    def test_matches_batch_lsh_pairs_three_batches(
        self, spark, sf_dir, tmp_path
    ):
        """Default-suite twin of :meth:`test_matches_batch_lsh_pairs`
        with the same assertions over 3 batches of the sf0.001 tables
        (the suite's default scale): the first batch builds the index,
        the next two probe it."""
        from vspace_spark.io.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        _assert_embedding_matches_batch_lsh(
            spark, emb, str(tmp_path / "emb3"), 3
        )

    def test_incremental_fold_planes_as_data(self, spark, tmp_path):
        """The fold lane ships its hyperplanes as DATA (one json
        string the optimizer folds into a literal array, via
        ``lsh_buckets``) instead of 2048-node literal trees (r13:
        Catalyst re-analysis of the literal tree per micro-batch was
        the dominant per-batch driver cost). The pin: every POSTING
        the replay persisted — the actual bucket bits the fold
        computed — must equal the literal-planes ``lsh_signature``
        value exactly; the json round trip yields the same IEEE
        doubles the literals held and dot()'s sequential fold is the
        same expression, so any drift is a bug."""
        import numpy as np

        from vspace_spark.operators.similarity import (
            lsh_signature,
            portable_hyperplanes,
        )
        from vspace_spark.streaming.incremental import (
            incremental_embedding_dedup,
        )

        rng = np.random.default_rng(13)
        rows = [
            (i, [float(x) for x in rng.normal(0, 1, 16)])
            for i in range(80)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        work = str(tmp_path / "planes")
        incremental_embedding_dedup(
            spark, emb, bits=32, bits_per_table=4, threshold=0.4,
            work_dir=work, n_input_files=3,
        ).collect()
        got = {
            (r._id, r.tbl, r.bucket)
            for r in spark.read.parquet(work + "/idx")
            .select("_id", "tbl", "bucket")
            .collect()
        }
        planes = portable_hyperplanes(16, 32)
        want = {
            (r.vec_id, r.tbl, r.bucket)
            for r in emb.select(
                "vec_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("tbl"),
                                lsh_signature(
                                    F.col("embedding"),
                                    planes[t * 4 : (t + 1) * 4],
                                ).alias("bucket"),
                            )
                            for t in range(8)
                        ]
                    )
                ).alias("_tb"),
            )
            .select("vec_id", "_tb.tbl", "_tb.bucket")
            .collect()
        }
        assert got == want and len(got) == 80 * 8


class TestAutoBucketWidth:
    def test_sizing_rule_values(self):
        """The embedding leg's layout rule: width targets ~8 vectors
        per bucket per table (clamped [4, 16]) and bits AUTO-RAISES
        to hold the table count the configured bits bought at the
        4-bit floor — the recall knob no longer silently erodes at
        scale (VERDICT r11 #5)."""
        import pytest

        from vspace_spark.streaming.incremental import _auto_lsh_layout

        assert _auto_lsh_layout(100, 32) == (32, 4)  # 8 tables held
        assert _auto_lsh_layout(500, 32) == (48, 6)  # 8 tables held
        assert _auto_lsh_layout(2, 32) == (32, 4)  # lower clamp
        assert _auto_lsh_layout(10**9, 64) == (256, 16)  # upper clamp
        # the VERDICT r11 #5 case: default bits=32 at 200k vectors
        # must keep all 8 tables (old rule: 32 // 15 = 2 tables)
        bits, bpt = _auto_lsh_layout(200_000, 32)
        assert bpt == 15 and bits // bpt == 8
        with pytest.raises(ValueError, match="bits must be >= 4"):
            _auto_lsh_layout(100, 3)

    def test_explicit_width_wider_than_bits_raises(self, spark):
        """Explicit bits_per_table > bits would make n_tables == 0 and
        silently emit an empty pair set — must raise instead
        (ADVICE r11)."""
        import pytest

        from vspace_spark.streaming.incremental import (
            incremental_embedding_dedup,
        )

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        with pytest.raises(ValueError, match="exceeds bits"):
            incremental_embedding_dedup(
                spark, emb, bits=8, bits_per_table=40,
            )

    def test_auto_matches_explicit_at_chosen_width(self, spark, tmp_path):
        """bits_per_table=None on a 100-vector corpus must pick width
        4 and emit exactly the explicit bits_per_table=4 pair set —
        auto-sizing changes the default, never the semantics."""
        import numpy as np

        from vspace_spark.streaming.incremental import (
            incremental_embedding_dedup,
        )

        rng = np.random.default_rng(11)
        rows = [
            (i, [float(x) for x in rng.normal(0, 1, 16)])
            for i in range(96)
        ]
        # four planted near-dups so the pair set is non-empty
        for j in (3, 17, 40, 71):
            rows.append(
                (
                    96 + j,
                    [float(x * 1.000001) for x in rows[j][1]],
                )
            )
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        auto = incremental_embedding_dedup(
            spark, emb, bits=32, threshold=0.9,
            work_dir=str(tmp_path / "auto"), n_input_files=4,
        )
        explicit = incremental_embedding_dedup(
            spark, emb, bits=32, bits_per_table=4, threshold=0.9,
            work_dir=str(tmp_path / "explicit"), n_input_files=4,
        )
        got = {(r.a, r.b, r.cos) for r in auto.collect()}
        want = {(r.a, r.b, r.cos) for r in explicit.collect()}
        assert got == want, (len(got), len(want))
        assert len(got) >= 4

    def test_sig_engines_identical_on_fixture(self, spark, tmp_path):
        """sig_engine='arrow' (one matmul per Arrow batch) must emit
        the fold lane's exact pair set on the fixture — margins there
        are clear of the ±0 sign-flip caveat. Also rejects unknown
        engines before any Spark work."""
        import pytest

        from vspace_spark.io.tables import load_table
        from vspace_spark.streaming.incremental import (
            incremental_embedding_dedup,
        )

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        with pytest.raises(ValueError, match="unknown sig_engine"):
            incremental_embedding_dedup(spark, emb, sig_engine="numpy")
        fold = incremental_embedding_dedup(
            spark, emb, bits=32, bits_per_table=4, threshold=0.4,
            work_dir=str(tmp_path / "fold"), n_input_files=4,
        )
        arrow = incremental_embedding_dedup(
            spark, emb, bits=32, bits_per_table=4, threshold=0.4,
            work_dir=str(tmp_path / "arrow"), n_input_files=4,
            sig_engine="arrow",
        )
        got = {(r.a, r.b, r.cos) for r in arrow.collect()}
        want = {(r.a, r.b, r.cos) for r in fold.collect()}
        assert got == want and len(got) > 0, (len(got), len(want))


class TestIncrementalMinhashXxhash:
    def test_xxhash_lane_matches_expected_and_replays(
        self, spark, sf_dir, tmp_path
    ):
        """hash_engine='xxhash64' (the batch fast twin's hash): the
        union over micro-batches must equal the BATCH pair set built
        from the same signature + banding pieces, and replay over the
        same work_dir must be idempotent. Unknown engines rejected
        before any Spark work."""
        import pytest

        from vspace_spark.io.tables import load_table
        from vspace_spark.operators.dedup import (
            _agreement,
            _band_col,
            _band_pairs,
            _banded,
            _minhash_plan,
            _minhash_sigs,
        )
        from vspace_spark.streaming.incremental import (
            incremental_minhash_dedup,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        with pytest.raises(ValueError, match="unknown hash_engine"):
            incremental_minhash_dedup(spark, docs, hash_engine="md5")
        work = str(tmp_path / "xx")
        inc = incremental_minhash_dedup(
            spark, docs, work_dir=work, n_input_files=5,
            hash_engine="xxhash64",
        )
        got = {(r.a, r.b, r.agree) for r in inc.collect()}

        sigs = _minhash_sigs(docs, _minhash_plan("xxhash64", "text", 3, 32))
        banded = _banded(sigs, _band_col("xxhash64", 8, 4), "_id")
        want = {
            (r.a, r.b, r.agree)
            for r in _band_pairs(banded, sigs)
            .select("a", "b", _agreement("_siga", "_sigb").alias("agree"))
            .filter(F.col("agree") >= 16)
            .collect()
        }
        assert got == want, (len(got), len(want))
        assert len(got) > 0
        again = incremental_minhash_dedup(
            spark, docs, work_dir=work, n_input_files=5,
            hash_engine="xxhash64",
        )
        assert {(r.a, r.b, r.agree) for r in again.collect()} == want


def test_agree_incr_embedding_gate_counts_planted_disagreement(
    spark, sf_dir, monkeypatch
):
    """Round-13 short-circuit regression for
    `agree_incr_embedding_arrow`: with an EMPTY lane diff the gate
    returns without running the 32-plane ε-scan — pin that a REAL
    pair-set difference still reaches the non-empty path and is
    counted. One synthetic pair (ids outside the corpus, so no
    ambiguity exclusion can ever claim it) is appended to the arrow
    lane only; the gate must count exactly that row."""
    import vspace_spark.streaming.incremental as inc
    from vspace_spark.queries.agreement import agree_incr_embedding_arrow

    real = inc.incremental_embedding_dedup

    def perturbed(spark_, embeddings, **kwargs):
        out = real(spark_, embeddings, **kwargs)
        if kwargs.get("sig_engine") == "arrow":
            fake = spark_.createDataFrame(
                [(-2, -1, 0.99)], "a long, b long, cos double"
            )
            out = out.unionByName(fake)
        return out

    monkeypatch.setattr(inc, "incremental_embedding_dedup", perturbed)
    got = agree_incr_embedding_arrow(spark, sf_dir).first()[0]
    assert got == 1, got
