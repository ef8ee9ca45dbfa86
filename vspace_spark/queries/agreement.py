"""Driver-visible agreement gates for the rows-only Arrow/trained
twins (VERDICT r10 #3): each query runs BOTH lanes of a twin pair and
returns the MATERIAL disagreement count as one row, with a trivially
portable ``SELECT 0`` oracle — converting the local property-test
evidence ("the fast twin agrees with the oracled portable twin") into
a hard driver-green row without violating the r3 rows-only ruling
(the fast twins' own float outputs never face a cross-engine hash).

MATERIAL (VERDICT r11 #6 / ADVICE r11): the round-11 gates counted
EXACT bag disagreements, which made BLAS-vs-fold float parity a hard
driver gate — probe-measured 0 at both SFs, but environment-dependent
(numpy BLAS backend, threading, version): one near-tie sign/rank flip
on a regenerated fixture turns into a spurious red row. Each gate now
recomputes the decisive score through ONE canonical deterministic
path (the exact JVM fold both engines' oracles mirror) and forgives a
disagreement only when it is a genuine ε-tie (margin ≤ 1e-9) — a
wrong neighbor, a dropped row, or any flip with clear margin still
counts. On today's fixtures every ambiguity set is empty, so the
gates remain exact bag equality in practice.

Round 12 adds the two streaming ingest fast lanes the same way
(VERDICT r11 #2): ``incremental_minhash_dedup(hash_engine="xxhash64")``
against its one-shot batch twin (pure integer hashing — no margin
needed) and ``incremental_embedding_dedup(sig_engine="arrow")``
against the oracle-checked fold lane (hyperplane-sign ε-ties
excluded by endpoint).

The TRAINED two-level lane keeps its structural-invariant gate: its
router legitimately disagrees with the flat argmin on ~2% of real
vectors (cell-boundary effects, not float noise), so no output-diff
rule — however margin-aware — would be honest there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.queries import query

_ZERO_ORACLE = "SELECT CAST(0 AS BIGINT) AS disagreements"

# Forgiveness threshold for a genuine tie: scores here are cosines
# (|·| ≤ 1) and squared L2 on O(1)-normed data, so 1e-9 is far above
# summation-order noise (~1e-16 per term) and far below any real
# neighbor separation on the fixtures.
_EPS = 1e-9


def _diff_count(a: DataFrame, b: DataFrame) -> DataFrame:
    """Exact bag-semantics symmetric difference, as one bigint row —
    for twin pairs whose outputs are integer-only (no float anywhere
    in the decision path), where exact equality is not brittle."""
    return (
        a.exceptAll(b)
        .unionByName(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias("disagreements"))
    )


def _bag_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b).unionByName(b.exceptAll(a))


def _material_rank_diff(
    a: DataFrame, b: DataFrame, score_of
) -> DataFrame:
    """Margin-aware disagreement count for ``[query_id, neighbor_id,
    rank]`` twins. Both lanes emit exactly one row per (query, rank)
    slot, so the symmetric difference pairs up slot-by-slot; a slot
    where the two lanes picked different neighbors is immaterial only
    when the canonical scores of BOTH picks tie within ``_EPS`` — a
    rank flip between genuinely tied candidates. Unmatched slots
    (a row one lane simply lacks) and unscorable picks (``score_of``
    returns null — e.g. the fast lane surfaced a candidate outside
    the canonical lane's probed cells) always count."""
    da = score_of(a.exceptAll(b)).select(
        "query_id",
        "rank",
        F.col("neighbor_id").alias("_na"),
        F.col("_score").alias("_sa"),
    )
    db = score_of(b.exceptAll(a)).select(
        "query_id",
        "rank",
        F.col("neighbor_id").alias("_nb"),
        F.col("_score").alias("_sb"),
    )
    slots = da.join(db, ["query_id", "rank"], "full_outer")
    material = slots.filter(
        F.col("_na").isNull()
        | F.col("_nb").isNull()
        | F.col("_sa").isNull()
        | F.col("_sb").isNull()
        | (F.abs(F.col("_sa") - F.col("_sb")) > F.lit(_EPS))
    )
    return material.agg(F.count(F.lit(1)).alias("disagreements"))


@query("agree_ann_bruteforce_fast", oracle=_ZERO_ORACLE)
def agree_ann_bruteforce_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_bruteforce_top5_fast` (numpy-matmul mapInPandas scoring,
    operators/similarity.py:brute_force_topk_arrow) must emit the
    (query_id, neighbor_id, rank) set of the oracle-checked fold twin
    (brute_force_topk) up to ε-ties: each disagreeing (query, rank)
    slot is re-scored with the exact JVM cosine fold — the ONE
    canonical computation, independent of either lane's summation
    order — and counts unless both lanes' picks tie within 1e-9.
    Probe-measured: zero slots disagree at the driver's SFs, so the
    gate is exact equality today; the margin rule only keeps a
    regenerated fixture's near-tie from reading as a correctness red
    (VERDICT r11 #6)."""
    from vspace_spark.functions.vectors import cosine_similarity
    from vspace_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)

    def exact_cos(df: DataFrame) -> DataFrame:
        qv = emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qv"),
        )
        nv = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("_nv"),
        )
        return (
            df.join(F.broadcast(qv), "query_id", "left")
            .join(F.broadcast(nv), "neighbor_id", "left")
            .withColumn(
                "_score",
                cosine_similarity(F.col("_qv"), F.col("_nv")),
            )
        )

    return _material_rank_diff(
        brute_force_topk(q, emb, k=5),
        brute_force_topk_arrow(q, emb, k=5),
        exact_cos,
    )


@query("agree_ann_ivf_pq_fast", oracle=_ZERO_ORACLE)
def agree_ann_ivf_pq_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_ivf_pq_top5_fast` (matmul encode + ADC probe) vs the
    relational IVF-PQ lane that carries the family's SQL oracle. The
    canonical score is the RELATIONAL probe's ADC distance
    (fixed-subspace-order conditional sums — deterministic on any
    engine), read from one all-candidates probe with ``keep_dist``;
    the relational top-5 itself is that probe filtered to rank ≤ 5,
    so the oracled lane is compared against byte-identically. A slot
    disagreement is immaterial only when both picks' canonical ADC
    distances tie within 1e-9; a fast-lane pick the relational probe
    never scored (flipped coarse cell) has no canonical score and
    always counts."""
    from vspace_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_encode_arrow,
        ivf_pq_probe,
        ivf_pq_probe_arrow,
        pq_codebook,
        pq_codebook_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    pc = pq_codebook(emb)
    pc_rows = pq_codebook_rows(pc)
    # the canonical lane, scored end-to-end: every probed candidate
    # with its ADC distance; rank ≤ 5 of this IS ivf_pq_topk's output.
    # Persisted (guide §5 — r13): scored feeds rel (both exceptAll
    # directions) AND the broadcast canon; the lazy localCheckpoint
    # left the relational encode+probe — the gate's whole cost — open
    # to re-evaluation, and the fast lane was rebuilt once per
    # exceptAll side. Measured 49.8 s → the lane solo costs ~18 s
    # (full-registry sweep); identical rows, fewer evaluations.
    from vspace_spark.operators.scale import KNOWN_SMALL, persist_shared

    scored = persist_shared(
        ivf_pq_probe(
            q, ivf_pq_encode(emb, pc), pc, k=1 << 30, keep_dist=True
        ),
        KNOWN_SMALL,
    )
    rel = scored.filter(F.col("rank") <= 5).select(
        "query_id", "neighbor_id", "rank"
    )
    arrow_index = ivf_pq_encode_arrow(emb, pc_rows=pc_rows)
    fast = persist_shared(
        ivf_pq_probe_arrow(q, arrow_index, pc_rows, k=5), KNOWN_SMALL
    )

    canon = scored.select(
        "query_id", "neighbor_id", F.col("_dist").alias("_score")
    )

    def adc_of(df: DataFrame) -> DataFrame:
        return df.join(
            F.broadcast(canon), ["query_id", "neighbor_id"], "left"
        )

    return _material_rank_diff(rel, fast, adc_of)


@query("agree_dedup_semantic_fast", oracle=_ZERO_ORACLE)
def agree_dedup_semantic_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic_fast` (engine='arrow': matmul cell assignment +
    per-cell Gram scoring) vs the oracle-checked interpreted fold
    lane, over the SAME portable md5 codebook and K ∝ N sizing. The
    bag diff of the [vec_id, cell, kept, duplicate_of] outputs must
    be empty outside ε-AMBIGUOUS CELLS — the only places a
    BLAS-vs-fold flip can legitimately land: (a) the top-2 cells of
    any vector whose two nearest centroids tie within 1e-9 (a cell
    flip perturbs exactly those two cells), and (b) any DIFFERING
    cell containing a pair whose exact fold cosine sits within 1e-9
    of the threshold (a keep/drop flip perturbs only that cell). The
    ambiguity sets are computed with the exact JVM folds — lane-
    independent — and are EMPTY on today's fixtures, so the gate is
    exact bag equality in practice; clause (b) scans only cells that
    actually contain a differing row (zero extra work when the lanes
    agree)."""
    from vspace_spark.functions.vectors import cosine_similarity
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.scale import footer_row_count
    from vspace_spark.operators.similarity import (
        nearest_cells,
        portable_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = footer_row_count(emb)
    if n is None:
        n = emb.count()  # bounded-collect: one scalar, sizes the codebook
    centers = portable_hyperplanes(64, max(16, n // 512), salt="s")
    threshold = 0.4
    # Persist both lane outputs and the diff (guide §5 — r13): each is
    # one row per input vector (KNOWN_SMALL), but the unpersisted
    # subtrees were re-evaluated at every reference — a.exceptAll(b) ∪
    # b.exceptAll(a) computes BOTH full dedup pipelines twice, and the
    # diff itself feeds dcells, the final anti-join, AND (via members)
    # the ε-scan — measured 34.6 s for a gate whose two lanes cost
    # 2.9 + 0.9 s solo (full-registry sweep, OPTIMIZATION_r13.md).
    # Identical rows, only the evaluation count changes.
    from vspace_spark.operators.scale import KNOWN_SMALL, persist_shared

    # The two lanes are independent (separate persists; the shared
    # clone-density probe is memoized) and each runs eager jobs at
    # build time plus a full materialization — run build +
    # materialize from two driver threads so the cheap arrow lane
    # back-fills the fold lane's scheduling gaps (guide §2.6 — r14,
    # same shape as agree_incr_embedding_arrow's replay overlap).
    from concurrent.futures import ThreadPoolExecutor

    from vspace_spark.streaming.incremental import _thread_target

    def _lane(engine: str) -> DataFrame:
        out = persist_shared(
            semantic_dedup(
                emb, centers, threshold=threshold, engine=engine
            ),
            KNOWN_SMALL,
        )
        out.count()  # materialize in this thread so the lanes overlap
        return out

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fold = pool.submit(
            _thread_target(spark, lambda: _lane("fold"))
        )
        f_arrow = pool.submit(
            _thread_target(spark, lambda: _lane("arrow"))
        )
        fold_out, arrow_out = f_fold.result(), f_arrow.result()
    diff = persist_shared(_bag_diff(fold_out, arrow_out), KNOWN_SMALL)

    # Algebraic short-circuit (guide §1.2 — don't compute what gets
    # thrown away): the gate's answer is count(diff ANTI-JOIN amb) —
    # when diff is EMPTY (the lanes agree, the designed steady state)
    # that count is 0 for ANY ambiguity set, so the ε-scans below —
    # TWO further full-corpus K-center assignment passes — are dead
    # work. They run only when a real disagreement exists and the gate
    # must decide whether it is an ε-tie. Result identical by
    # construction: count(∅ ⟕̸ X) = 0 = count(∅). (Measured in
    # OPTIMIZATION_r13.md.)
    if diff.isEmpty():
        return diff.agg(F.count(F.lit(1)).alias("disagreements"))

    # (a) centroid ε-ties: both candidate cells of any vector whose
    # top-2 exact fold distances tie within ε
    ranked = nearest_cells(F.col("embedding"), centers)
    center_ties = emb.select(
        ranked[0]["cell"].alias("_c0"),
        ranked[1]["cell"].alias("_c1"),
        (ranked[1]["dist"] - ranked[0]["dist"]).alias("_gap"),
    ).filter(F.col("_gap") <= F.lit(_EPS))
    amb_a = center_ties.select(F.col("_c0").alias("cell")).unionByName(
        center_ties.select(F.col("_c1").alias("cell"))
    )

    # (b) threshold ε-ties, only inside cells that actually differ:
    # exact fold cosine of every within-cell pair of those cells
    dcells = diff.select("cell").distinct()
    members = (
        emb.select(F.col("vec_id"), F.col("embedding"))
        .withColumn("cell", ranked[0]["cell"])
        .join(F.broadcast(dcells), "cell")
    )
    la = members.select(
        "cell", F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va")
    )
    lb = members.select(
        "cell", F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb")
    )
    amb_b = (
        la.join(lb, "cell")
        .filter(F.col("_ia") < F.col("_ib"))
        .withColumn(
            "_cos", cosine_similarity(F.col("_va"), F.col("_vb"))
        )
        .filter(
            F.abs(F.col("_cos") - F.lit(threshold)) <= F.lit(_EPS)
        )
        .select("cell")
    )

    amb = amb_a.unionByName(amb_b).distinct()
    return (
        diff.join(F.broadcast(amb), "cell", "left_anti")
        .agg(F.count(F.lit(1)).alias("disagreements"))
    )


@query("agree_incr_minhash_xxhash64", oracle=_ZERO_ORACLE)
def agree_incr_minhash_xxhash64(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The xxhash64 streaming-ingest fast lane (VERDICT r11 #2):
    ``incremental_minhash_dedup(hash_engine="xxhash64")`` — one JVM
    hash instruction per seed instead of md5's per-seed string
    digest, the 1.2× whole-run production lane measured in PERF.md
    r11 — must emit, as its union over micro-batch probes of the
    accreting index, EXACTLY the one-shot batch LSH pair set built
    from the same xxhash64 signature + banding pieces. This is the
    batch-boundary-independence contract the oracled portable lane
    proves via SQL (`stream_dedup_docs_incremental`), re-proven for
    the fast hash. Every value in the decision path is an integer
    (hashes, band buckets, agreement counts), so exact bag equality
    is not brittle — no margin rule needed."""
    from vspace_spark.io.sinks import keyed_tmp_dir
    from vspace_spark.operators.dedup import (
        _agreement,
        _band_col,
        _band_pairs,
        _banded,
        _minhash_plan,
        _minhash_sigs,
    )
    from vspace_spark.operators.scale import (
        KNOWN_SMALL,
        est_relation_bytes,
        persist_shared,
        rebalance_for_compute,
    )
    from vspace_spark.streaming.incremental import incremental_minhash_dedup

    docs_tbl = load_table(spark, sf_dir, "documents")
    docs = docs_tbl.select("doc_id", "text")
    work = keyed_tmp_dir("vspace_agree_incr_mh", sf_dir)
    inc = incremental_minhash_dedup(
        spark, docs, work_dir=work, n_input_files=5,
        hash_engine="xxhash64",
    )
    # signatures feed the bucket self-join and both rejoins — persist
    # once; 32 longs per doc, footer-exact off the bare table scan
    sigs = persist_shared(
        _minhash_sigs(
            rebalance_for_compute(docs),
            _minhash_plan("xxhash64", "text", 3, 32),
        ),
        est_relation_bytes(docs_tbl, row_bytes=8 * 32 + 32),
    )
    banded = _banded(sigs, _band_col("xxhash64", 8, 4), "_id")
    # flagged-pair set (sub-corpus-sized by construction), read by
    # both exceptAll directions — persist so the bucket self-join
    # runs once
    batch = persist_shared(
        _band_pairs(banded, sigs)
        .select("a", "b", _agreement("_siga", "_sigb").alias("agree"))
        .filter(F.col("agree") >= 16),
        KNOWN_SMALL,
    )
    return _diff_count(inc.select("a", "b", "agree"), batch)


@query("agree_incr_embedding_arrow", oracle=_ZERO_ORACLE)
def agree_incr_embedding_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Arrow streaming-ingest fast lane (VERDICT r11 #2):
    ``incremental_embedding_dedup(sig_engine="arrow")`` — one numpy
    matmul per Arrow batch for the whole LSH signature block, the
    3.4× ingest lane measured in PERF.md r11 — must emit the exact
    [a, b, cos] pair set of the oracle-checked fold lane over the
    same portable md5 hyperplanes and pinned 4-bit bucket layout.
    The only lane-dependent computation is the SIGN of each
    plane·vector dot product (the cosine confirm is the shared JVM
    fold on both lanes), so the margin rule excludes pairs touching
    a vector whose smallest |dot| across the 32 planes is ≤ 1e-9 —
    the only vectors whose bucket bits BLAS summation order could
    legitimately flip. That exclusion set is EMPTY on today's
    fixtures (exact bag equality in practice); any differing pair
    between clear-margin vectors still counts."""
    from vspace_spark.functions.vectors import dot
    from vspace_spark.io.sinks import keyed_tmp_dir
    from vspace_spark.streaming.incremental import (
        incremental_embedding_dedup,
    )
    from vspace_spark.operators.similarity import (
        _folded_rows,
        portable_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # The two replays are INDEPENDENT eager jobs (separate work_dirs,
    # no shared metastore state, each returns an eager localCheckpoint)
    # whose micro-batches individually underfill the cluster — run
    # them from two driver threads so one replay's scheduling gaps
    # back-fill with the other's tasks (guide §2.6 — r13: the gate
    # measured 77.5 s serial, ~= fold replay + arrow replay end to
    # end; overlapped 38.9 s, same output — parity-green). Job
    # descriptions/groups are thread-local, so the UI stays legible.
    from concurrent.futures import ThreadPoolExecutor

    from vspace_spark.streaming.incremental import _thread_target

    def _lane(tag: str, engine: str) -> DataFrame:
        return incremental_embedding_dedup(
            spark, emb, bits=32, bits_per_table=4, threshold=0.4,
            work_dir=keyed_tmp_dir(f"vspace_agree_incr_emb_{tag}", sf_dir),
            n_input_files=5, sig_engine=engine,
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fold = pool.submit(
            _thread_target(spark, lambda: _lane("f", "fold"))
        )
        f_arrow = pool.submit(
            _thread_target(spark, lambda: _lane("a", "arrow"))
        )
        fold, arrow = f_fold.result(), f_arrow.result()
    # persisted like the semantic gate's diff (ADVICE r13): without it
    # the non-empty (real disagreement) path re-ran both exceptAll
    # shuffles for the final material count after the isEmpty probe
    from vspace_spark.operators.scale import KNOWN_SMALL, persist_shared

    diff = persist_shared(_bag_diff(fold, arrow), KNOWN_SMALL)
    # Algebraic short-circuit (guide §1.2, same rule as the semantic
    # gate): the answer is count(diff after excluding ε-ambiguous
    # endpoints) — with an EMPTY diff (the designed steady state; both
    # lanes are eager localCheckpoints, so this probe is two cheap
    # cached exceptAlls) the anti-joins are empty for ANY exclusion
    # set, making the 32-plane min-|dot| full-corpus scan (an
    # interpreted 32-dot fold per row) dead work. It runs only when a
    # real pair-set difference needs ε-adjudication. Identical result
    # by construction: count(∅ ⟕̸ X) = 0 = count(∅).
    if diff.isEmpty():
        return diff.agg(F.count(F.lit(1)).alias("disagreements"))
    # dim from the embeddings schema is fixed (64) across the test
    # corpora; derive it from one row to stay corpus-agnostic
    dim = emb.select(F.size("embedding")).first()[0]
    # bounded-collect above: one scalar
    min_absdot = F.array_min(
        F.transform(
            _folded_rows(portable_hyperplanes(dim, 32)),
            lambda p: F.abs(dot(F.col("embedding"), p)),
        )
    )
    amb = emb.filter(min_absdot <= F.lit(_EPS))
    material = diff.join(
        F.broadcast(amb.select(F.col("vec_id").alias("a"))), "a", "left_anti"
    ).join(
        F.broadcast(amb.select(F.col("vec_id").alias("b"))), "b", "left_anti"
    )
    return material.agg(F.count(F.lit(1)).alias("disagreements"))


@query(
    "agree_dedup_semantic_trained",
    oracle="SELECT CAST(0 AS BIGINT) AS invariant_violations, "
    "CAST(0 AS BIGINT) AS id_mismatches",
)
def agree_dedup_semantic_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`dedup_semantic_trained`'s exact structural contract, as a
    driver row: every input vector appears exactly once and only
    there (id_mismatches: full-outer anti count vs the input id set),
    kept ⇔ duplicate_of IS NULL, and a duplicate always points at a
    strictly smaller id (the greedy first-writer-wins rule). Output-
    level diff vs the flat argmin is deliberately NOT the gate — the
    two-level router's ≥98% agreement property is real but inexact
    (~12% of sf0.01 vectors sit near trained-cell boundaries), and
    lives in tests/test_dedup.py where a tolerance is expressible."""
    from vspace_spark.operators.dedup import semantic_dedup_two_level
    from vspace_spark.operators.scale import footer_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    n = footer_row_count(emb)
    if n is None:
        n = emb.count()  # bounded-collect: one scalar, sizes the codebook
    out = semantic_dedup_two_level(emb, k=max(16, n // 512), threshold=0.4)
    viol = out.filter(
        (F.col("kept") != F.col("duplicate_of").isNull())
        | (F.col("duplicate_of") >= F.col("vec_id"))
    ).agg(F.count(F.lit(1)).alias("invariant_violations"))
    # bag-semantics symmetric difference on the id column: catches
    # missing ids, foreign ids, AND duplicated output rows
    mism = (
        out.select("vec_id")
        .exceptAll(emb.select("vec_id"))
        .unionByName(emb.select("vec_id").exceptAll(out.select("vec_id")))
        .agg(F.count(F.lit(1)).alias("id_mismatches"))
    )
    return viol.crossJoin(mism)  # broadcast-scalar join: 1x1 rows
