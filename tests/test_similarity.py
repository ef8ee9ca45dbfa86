"""Behavioral tests for ANN: LSH top-k recall against brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    random_hyperplanes,
)


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = lsh_topk(q, emb, spark, k=5, bits=4, tables=8).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4-bit LSH on random 64-d gaussians is coarse; near-neighbors
    # still land in the same half-spaces far above chance
    assert recall >= 0.3, f"LSH recall {recall}"


def test_lsh_planes_deterministic(spark):
    p1 = random_hyperplanes(8, 4, spark).orderBy("bit").collect()
    p2 = random_hyperplanes(8, 4, spark).orderBy("bit").collect()
    assert [r.plane for r in p1] == [r.plane for r in p2]


def test_portable_planes_bit_exact_across_engines():
    """The ann_lsh_top5 oracle rests on every plane component being
    the SAME 64 bits in Python, the JVM, and DuckDB: 13 md5 hex chars
    (52 bits) divided by 2^51 minus 1 — each step exact in IEEE
    double. Compare Python hashlib against DuckDB verbatim (==, no
    tolerance); the JVM side is covered transitively by the oracle
    parity test."""
    import duckdb

    from vspace_spark.operators.similarity import portable_hyperplanes

    py = portable_hyperplanes(8, 4)
    rows = duckdb.sql(
        """
        SELECT b.b, list_transform(range(0, 8),
          i -> ('0x' || substr(md5(b.b::VARCHAR || ':' || i::VARCHAR),
                1, 13))::BIGINT / 2251799813685248.0 - 1) AS plane
        FROM (SELECT unnest(range(4)) AS b) b ORDER BY b.b
        """
    ).fetchall()
    duck = [list(r[1]) for r in rows]
    assert py == duck


def test_portable_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Same recall bar for the oracle-checked md5-plane variant."""
    from vspace_spark.operators.similarity import portable_hyperplanes

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = lsh_topk(
        q, emb, spark, k=5, bits=4, tables=8,
        planes=portable_hyperplanes(64, 32),
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"portable LSH recall {recall}"


def test_bruteforce_self_excluded_and_k(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = brute_force_topk(q, emb, k=5)
    rows = out.collect()
    assert all(r.query_id != r.neighbor_id for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())

def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from vspace_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = ivf_topk(q, emb, k=5, n_cells=16, n_probe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing 1/4 of cells on near-uniform data still concentrates
    # true neighbors far above the 25% chance floor
    assert recall >= 0.4, f"IVF recall {recall}"


def test_pq_encode_arrow_matches_relational(spark, sf_dir):
    """The matmul encoder must emit the identical (cell, codes) row
    per vector as the oracle-checked relational encode (the fixture
    has no exact distance ties)."""
    from vspace_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_encode_arrow,
        pq_codebook,
        pq_codebook_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pc = pq_codebook(emb)
    exact = sorted(map(tuple, ivf_pq_encode(emb, pc).collect()))
    pc_rows = pq_codebook_rows(pc)
    fast = sorted(
        map(tuple, ivf_pq_encode_arrow(emb, pc_rows=pc_rows).collect())
    )
    assert exact == fast


def test_pq_probe_arrow_matches_relational(spark, sf_dir):
    """The matmul ADC probe must reproduce the relational probe's
    ranks exactly on the tie-free fixture."""
    from vspace_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_probe,
        ivf_pq_probe_arrow,
        pq_codebook,
        pq_codebook_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    pc = pq_codebook(emb)
    index = ivf_pq_encode(emb, pc)
    pc_rows = pq_codebook_rows(pc)
    exact = sorted(map(tuple, ivf_pq_probe(q, index, pc, k=5).collect()))
    fast = sorted(
        map(tuple, ivf_pq_probe_arrow(q, index, pc_rows, k=5).collect())
    )
    assert exact == fast


def test_bruteforce_arrow_matches_exact_path(spark, sf_dir):
    """The matmul fast path must reproduce the exact fold path's top-5
    sets (rank-for-rank on the fixture — ties are broken by id in both
    and the fixture has no exact cosine ties)."""
    from vspace_spark.operators.similarity import brute_force_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = sorted(map(tuple, brute_force_topk(q, emb, k=5).collect()))
    fast = sorted(map(tuple, brute_force_topk_arrow(q, emb, k=5).collect()))
    assert exact == fast


def test_ivf_pq_recall_vs_bruteforce(spark, sf_dir):
    """PQ compresses each vector to 4 codes — recall vs exact top-5
    must still clear the same bar as the uncompressed IVF probe."""
    from vspace_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = ivf_pq_topk(q, emb, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # same probe budget as test_ivf_recall_vs_bruteforce; quantization
    # noise costs some overlap but must stay far above the chance floor
    assert recall >= 0.3, f"IVF-PQ recall {recall}"


def test_ivf_deterministic_across_runs(spark, sf_dir):
    from vspace_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    r1 = sorted(map(tuple, ivf_topk(q, emb, k=3).collect()))
    r2 = sorted(map(tuple, ivf_topk(q, emb, k=3).collect()))
    assert r1 == r2


def test_ml_idf_agrees_with_exact_df(spark, sf_dir):
    """Spark-ML IDF vs the engine's exact document frequencies: for
    single-bucket tokens, ML's idf = ln((N+1)/(df+1)) must match the
    df from term_stats."""
    import math

    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    from vspace_spark.operators.stats import term_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    stats = {
        r.token: r.document_frequency
        for r in term_stats(docs).collect()
    }

    tokenized = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    htf = HashingTF(inputCol="words", outputCol="raw", numFeatures=1 << 18)
    tf = htf.transform(tokenized)
    model = IDF(inputCol="raw", outputCol="feat").fit(tf)
    idf = model.idf.toArray()

    # map each known token to its hash bucket; with 2^18 buckets and a
    # tiny vocabulary, collisions are unlikely — check agreement on
    # tokens whose bucket holds exactly that token's df
    checked = 0
    for token, df in stats.items():
        bucket = htf.indexOf(token)
        expect = math.log((n_docs + 1) / (df + 1))
        if abs(idf[bucket] - expect) < 1e-9:
            checked += 1
    assert checked >= len(stats) * 0.9, (checked, len(stats))


def test_ivf_arrow_assign_matches_fold_on_fixed_centers(spark, sf_dir):
    """With the SAME codebook and no coarse tier, the arrow matmul
    assigner and the fold struct-argmin must produce identical top-k
    output (both argmin the same distances; ties — absent in the
    fixture — would break to the lowest cell in both)."""
    from vspace_spark.operators.dedup import hierarchical_codebook
    from vspace_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    fine, _, _ = hierarchical_codebook(emb, 16)
    fold = sorted(
        map(tuple, ivf_topk(q, emb, k=5, centers=fine).collect())
    )
    arrow = sorted(
        map(
            tuple,
            ivf_topk(
                q, emb, k=5, centers=fine, assign_engine="arrow"
            ).collect(),
        )
    )
    assert fold == arrow


def test_ivf_trained_arrow_two_level_recall(spark, sf_dir):
    """The trained-codebook + two-level arrow assignment path (the
    K>=2048 scale lane) must clear the same recall floor as the fold
    path — coarse routing may move borderline vectors between cells
    but cannot wreck neighbor co-location."""
    from vspace_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = ivf_topk(
        q, emb, k=5, n_cells=16, n_probe=4, assign_engine="arrow"
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"trained+arrow IVF recall {recall}"


def test_ivf_assign_engine_validation(spark, sf_dir):
    import pytest

    from vspace_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="unknown assign_engine"):
        ivf_topk(q, emb, assign_engine="numpy").collect()


def _jobs_run_by(spark, group: str, build) -> list:
    """Spark job ids launched while ``build()`` runs (it may raise)."""
    sc = spark.sparkContext
    # setJobGroup sets all three; restore them for later tests
    props = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    prior = {p: sc.getLocalProperty(p) for p in props}
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        for p, v in prior.items():
            sc.setLocalProperty(p, v)
    return jobs


@pytest.mark.parametrize(
    "lane",
    [
        "ivf_topk",
        "semantic_dedup",
        "brute_force_topk_arrow",
        "ivf_pq_encode_arrow",
        "ivf_pq_probe_arrow",
    ],
)
def test_arrow_lanes_reject_string_ids(spark, sf_dir, lane):
    """Every Arrow vector lane carries ids through an int64 pandas
    column, which re-types digit strings silently; each raises
    TypeError before any Spark job instead. The string ids sit on the
    side each lane's own check would otherwise miss: queries for
    ivf_topk, corpus for brute force, the index for the PQ probe."""
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.similarity import (
        brute_force_topk_arrow,
        ivf_pq_encode_arrow,
        ivf_pq_probe_arrow,
        ivf_topk,
        portable_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    strid = emb.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    build = {
        "ivf_topk": lambda: ivf_topk(strid, emb, assign_engine="arrow"),
        "semantic_dedup": lambda: semantic_dedup(
            strid, portable_hyperplanes(64, 16, salt="s"), engine="arrow"
        ),
        "brute_force_topk_arrow": lambda: brute_force_topk_arrow(emb, strid),
        "ivf_pq_encode_arrow": lambda: ivf_pq_encode_arrow(strid),
        "ivf_pq_probe_arrow": lambda: ivf_pq_probe_arrow(emb, strid, []),
    }[lane]

    def must_raise():
        with pytest.raises(TypeError, match="integral"):
            build()

    assert _jobs_run_by(spark, f"string_ids_{lane}", must_raise) == []


def test_nearest_cells_is_the_left_fold(spark, sf_dir):
    """Each vector's ``(dist, cell)`` structs are exactly a pure-Python
    left fold of (x − c)² in double, sorted by (dist, cell): the same
    IEEE operations in the same order as the ``aggregate`` and the
    oracle's ``list_sum``."""
    from vspace_spark.operators.similarity import (
        nearest_cells,
        portable_hyperplanes,
    )

    centers = portable_hyperplanes(64, 16, salt="c")
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "embedding",
            nearest_cells(F.col("embedding"), centers).alias("got"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        want = []
        for cell, c in enumerate(centers):
            acc = 0.0
            for x, y in zip(r.embedding, c):
                acc += (float(x) - y) * (float(x) - y)
            want.append((acc, cell))
        assert [(s.dist, s.cell) for s in r.got] == sorted(want)


def test_nearest_cells_expression_size_is_flat_in_k(spark):
    """The centers ride as one folded literal: the unresolved
    expression (Spark 4's ``SparkSession.expression`` of the Column)
    has as many nodes at K=1,024 as at K=16."""
    from vspace_spark.operators.similarity import (
        nearest_cells,
        portable_hyperplanes,
    )

    def tree_lines(k: int) -> int:
        col = nearest_cells(
            F.col("embedding"), portable_hyperplanes(64, k, salt="c")
        )
        expr = spark._jsparkSession.expression(col._jc)
        return len(expr.treeString().splitlines())

    assert tree_lines(16) == tree_lines(1024)


def test_refine_codebook_improves_centers_and_keeps_contract(spark):
    """Distributed full-corpus Lloyd refinement must (a) reduce
    k-means inertia (each step is an exact Lloyd step — assignment
    then exact per-cell means), (b) preserve the codebook contract
    (center count, coarse ownership with every coarse cell owning
    >= 1 fine center, coarse centers = mean of their fine centers).
    Fixture: 4 planted clusters trained from a deliberately tiny
    sample, so there is real imbalance for refinement to fix."""
    import numpy as np

    from vspace_spark.operators.dedup import hierarchical_codebook
    from vspace_spark.operators.similarity import refine_codebook

    rng = np.random.default_rng(3)
    rows = []
    vid = 0
    for g in range(4):
        base = np.zeros(6)
        base[g] = 8.0
        for _ in range(300):
            rows.append(
                (vid, [float(x) for x in base + rng.normal(0, 0.3, 6)])
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    X = np.asarray([r[1] for r in rows])

    def inertia(C):
        C = np.asarray(C)
        d = (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        return float((d.min(1) + (X * X).sum(1)).sum())

    fine0, coarse0, owner0 = hierarchical_codebook(
        df, 4, sample_rows=48, iters=2
    )
    fine1, coarse1 = refine_codebook(
        df, fine0, (coarse0, owner0), steps=2
    )
    assert len(fine1) == len(fine0)
    assert coarse1[1] == [int(o) for o in owner0]  # ownership preserved
    assert set(coarse1[1]) == set(range(len(coarse1[0])))
    # coarse centers are the means of their fine centers
    CF = np.asarray(fine1)
    own = np.asarray(coarse1[1])
    for c, cc in enumerate(coarse1[0]):
        np.testing.assert_allclose(cc, CF[own == c].mean(0), atol=1e-9)
    assert inertia(fine1) < inertia(fine0) * 0.999, (
        inertia(fine0),
        inertia(fine1),
    )


def test_xxhash_hyperplanes_match_spark(spark):
    """The driver-side default planes hold the same 64 bits as Spark's
    xxhash64 table, at ``lsh_topk``'s default 64-d width and twice its
    default 32 planes."""
    from vspace_spark.operators.similarity import xxhash_hyperplanes

    want = random_hyperplanes(64, 64, spark).orderBy("bit").collect()
    assert xxhash_hyperplanes(64, 64) == [r.plane for r in want]


@pytest.mark.parametrize("family", ["xxhash", "portable"])
@pytest.mark.parametrize("bpt,n_tables", [(4, 1), (4, 8), (15, 1), (15, 8)])
def test_lsh_buckets_match_literal_signature(spark, family, bpt, n_tables):
    """The folded-literal bucket fold must equal the literal-planes
    ``lsh_signature`` bit for bit, for both plane families, at one and
    several tables, and at the 4- and 15-bit widths the incremental
    leg's auto layout produces."""
    import numpy as np

    from vspace_spark.operators.similarity import (
        lsh_buckets,
        lsh_signature,
        portable_hyperplanes,
        xxhash_hyperplanes,
    )

    dim, bits = 16, bpt * n_tables
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, dim)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    if family == "portable":
        planes = literal = portable_hyperplanes(dim, bits)
    else:
        planes = xxhash_hyperplanes(dim, bits)
        literal = [
            r.plane
            for r in random_hyperplanes(dim, bits, spark)
            .orderBy("bit")
            .collect()
        ]
    rows = emb.select(
        "vec_id",
        lsh_buckets(F.col("embedding"), planes, bpt, n_tables).alias("got"),
        F.array(
            *[
                lsh_signature(
                    F.col("embedding"), literal[t * bpt : (t + 1) * bpt]
                )
                for t in range(n_tables)
            ]
        ).alias("want"),
    ).collect()
    for r in rows:
        assert [s.tbl for s in r.got] == list(range(n_tables))
        assert [s.bucket for s in r.got] == r.want, r.vec_id


def test_lsh_topk_builds_without_a_job(spark, sf_dir):
    """Building the query must launch no Spark job: the default planes
    are aggregated inside the plan, not collected to the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    jobs = _jobs_run_by(
        spark,
        "lsh_topk_build",
        lambda: lsh_topk(emb.filter(F.col("vec_id") < 10), emb, spark, k=5),
    )
    assert jobs == []


def test_lsh_topk_wrong_dim_fails(spark, sf_dir):
    """A ``dim`` that does not match the vectors fails the query
    instead of padding every dot with nulls (which put every vector in
    bucket 0 and turned the search into brute force)."""
    emb = load_table(spark, sf_dir, "embeddings")  # 64-d
    with pytest.raises(Exception, match="vector size 64 != dim 32"):
        lsh_topk(
            emb.filter(F.col("vec_id") < 3), emb, spark, k=5, dim=32
        ).collect()
