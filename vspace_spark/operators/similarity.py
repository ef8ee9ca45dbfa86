"""Similarity search over embedding columns (BASELINE.json north star).

Two paths, same contract:
- brute-force top-k: exact, one broadcast of the (small) query set
  against the full corpus — linear scan, embarrassingly parallel, the
  correctness baseline and often the right answer when queries are few.
- LSH-bucketed top-k: random-hyperplane signatures bucket the corpus;
  each query probes only its bucket(s). Sub-linear per query; recall
  traded via bands/bits. The 100 TB path (the corpus side is hashed
  once and can be written out partitioned by bucket).

No Python in either path — cosine is zip_with/aggregate (JVM), ranking
is a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vspace_spark.functions.kernels import (
    as_matrix,
    center_dists,
    router,
    top_n,
)
from vspace_spark.functions.vectors import (
    cosine_from_norms,
    dot,
    l2_norm,
    sq_dist,
)


def _top_k(
    scored: DataFrame, k: int, by: F.Column, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Each query's ``k`` best candidates by ``by`` (``F.desc("_cos")``
    or ``F.asc("_dist")``), ties to the lower neighbor id, as
    ``[query_id, neighbor_id, rank, *keep]``."""
    w = Window.partitionBy("query_id").orderBy(by, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", *keep)
    )


_SIDES = {"q": ("query_id", "_qv", "_qn"), "c": ("neighbor_id", "_cv", "_cn")}


def _normed(
    frame: DataFrame, side: str, id_col: str, vec_col: str, *extra
) -> DataFrame:
    """One side of a cosine scan, ``[id, vec, norm, *extra]`` named
    for the query (``"q"``) or corpus (``"c"``) side: the norm is
    computed once per vector, not once per candidate pair."""
    i, v, n = _SIDES[side]
    return frame.select(
        F.col(id_col).alias(i),
        F.col(vec_col).alias(v),
        l2_norm(F.col(vec_col)).alias(n),
        *extra,
    )


def _cos_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Rank joined :func:`_normed` sides by their stored-norm cosine."""
    cos = cosine_from_norms(
        F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
    )
    return _top_k(
        pairs.select("query_id", "neighbor_id", cos.alias("_cos")),
        k,
        F.desc("_cos"),
    )


def _require_integral_ids(lane: str, id_col: str, **frames) -> None:
    """Raise before any Spark job unless every frame's ``id_col`` is
    integral: the Arrow lanes carry ids through an int64 pandas column,
    which silently re-types digit strings and fails in a worker on any
    other string. The fold twins take any orderable id type."""
    for side, frame in frames.items():
        id_type = dict(frame.dtypes).get(id_col)
        if id_type not in ("bigint", "int", "smallint", "tinyint"):
            raise TypeError(
                f"{lane} requires an integral {id_col!r} on {side} "
                f"(got {id_type}); use its fold twin for other id types"
            )


def _query_matrix(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[list[int], list[list[float]]]:
    """The query batch as plain lists (ids ascending) that an Arrow
    lane's closure can carry."""
    rows = (
        queries.select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
        .orderBy("q")
        .collect()  # bounded-collect: the query batch (small by contract)
    )
    ids = [int(r["q"]) for r in rows]
    return ids, [[float(x) for x in r["v"]] for r in rows]


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector.

    Broadcast the queries (small side) against the corpus scan; rank
    with a window partitioned by query. Ties broken by neighbor id so
    the result is deterministic. Self-matches excluded.

    Returns ``[query_id, neighbor_id, rank]``.
    """
    q = _normed(queries, "q", id_col, vec_col)
    c = _normed(corpus, "c", id_col, vec_col)
    return _cos_top_k(
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k
    )


def random_hyperplanes(dim: int, bits: int, spark) -> DataFrame:
    """Deterministic pseudo-random hyperplanes: component (b, i) is
    derived from xxhash64(b, i) scaled to [-1, 1]. A lazy ``bits``-row
    table — reproducible across runs (no RNG state); LSH uses its
    driver-side twin :func:`xxhash_hyperplanes`."""
    rows = spark.range(bits).select(
        F.col("id").cast("int").alias("bit"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.xxhash64(F.col("id"), i).cast("double") / F.lit(float(2**63))
            ),
        ).alias("plane"),
    )
    return rows


def xxhash_hyperplanes(dim: int, bits: int) -> list[list[float]]:
    """:func:`random_hyperplanes` computed on the driver with no Spark
    job: Spark's XXH64 of (bigint b, int i), seed 42, as a signed long
    cast to double / 2^63 — the same 64 bits per component."""
    m = 2**64 - 1
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & m

    def xxh(h: int, v: int, width: int) -> int:  # hashLong 8 / hashInt 4
        h = (h + 0x27D4EB2F165667C5 + width) & m
        if width == 8:
            h ^= rotl(v * p2 & m, 31) * p1 & m
            h = (rotl(h, 27) * p1 + 0x85EBCA77C2B2AE63) & m
        else:
            h = (rotl(h ^ v * p1 & m, 23) * p2 + p3) & m
        h = (h ^ h >> 33) * p2 & m
        h = (h ^ h >> 29) * p3 & m
        h ^= h >> 32
        return h - (h >> 63 << 64)

    return [
        [float(xxh(xxh(42, b, 8), i, 4)) / 2**63 for i in range(dim)]
        for b in range(bits)
    ]


def portable_hyperplanes(
    dim: int, bits: int, salt: str = ""
) -> list[list[float]]:
    """Deterministic hyperplanes an ANSI-SQL engine can reproduce:
    component (b, i) = md5("b:i") first 13 hex chars → 52-bit int,
    scaled to [-1, 1). Every step is EXACT in IEEE double (52-bit
    mantissa, division by 2^51 is an exponent shift, the final -1
    cannot round), so Python, the JVM, and DuckDB all hold the same
    64 bits — the whole LSH bucket assignment becomes oracle-checkable.
    Tiny (bits × dim floats), computed driver-side; LSH ships them as
    one folded literal (:func:`lsh_buckets`). ``salt`` draws an
    independent set from the same scheme (e.g. "c" for the
    fixed-codebook IVF centroids)."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(f"{salt}{b}:{i}".encode()).hexdigest()[:13],
                16,
            )
            / float(2**51)
            - 1.0
            for i in range(dim)
        ]
        for b in range(bits)
    ]


def lsh_signature(vec: F.Column, planes: list[list[float]]) -> F.Column:
    """Sign-of-dot-product bigint bucket id (≤ 63 bits) over literal
    planes: the reference :func:`lsh_buckets` is pinned to."""
    sig = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(v) for v in plane]))
        sig = sig + F.when(d > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0))
    return sig


def _folded_rows(rows: list) -> F.Column:
    """``rows`` (float lists) as one ``array<array<double>>`` column:
    ONE json string that the optimizer folds into a literal array once
    per query. Building one py4j literal per component instead costs
    driver time and a plan that grow with ``len(rows) × dim`` (PERF.md
    "Nearest-cell column"); the values are the same doubles — Python's
    repr round-trips through the JSON parser exactly."""
    import json

    return F.from_json(
        F.lit(json.dumps([[float(x) for x in r] for r in rows])),
        "array<array<double>>",
    )


def lsh_buckets(
    vec: F.Column, planes: list, bits_per_table: int, n_tables: int
) -> F.Column:
    """``array<struct<tbl, bucket>>``, one constant-size expression for
    any layout. The planes ride as one folded literal
    (:func:`_folded_rows`) — no cross-joined planes row either (copying
    it per vector nearly doubled the per-row cost, PERF.md).
    Table ``t`` folds its own slice, highest bit first, with
    ``acc*2 + (dot(v, p) > 0)``: ``lsh_signature``'s Σ 2^j·bit_j with
    the same ``dot()``, bit-identical. (Slicing one shared bit array
    instead recomputes it per table: Catalyst does not share values
    across lambda bodies.) A vector whose size is not the planes' dim
    raises — padded null dots would put every vector in bucket 0."""
    bpt, dim = bits_per_table, len(planes[0])
    lit = _folded_rows(planes)
    buckets = F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.alias("tbl"),
            F.aggregate(
                F.reverse(F.slice(lit, t * bpt + 1, F.lit(bpt))),
                F.lit(0).cast("bigint"),
                lambda acc, p: acc * 2
                + F.when(dot(vec, p) > 0, F.lit(1)).otherwise(F.lit(0)),
            ).alias("bucket"),
        ),
    )
    n = F.array_size(vec)  # null for a null vector, which stays legal
    bad = F.format_string(f"lsh: vector size %d != dim {dim}", n)
    return F.when(n != dim, F.raise_error(bad)).otherwise(buckets)


def nearest_cells(vec: F.Column, centers: list[list[float]]) -> F.Column:
    """Every center as a ``(dist, cell)`` struct, nearest first:
    ``dist`` is the :func:`~vspace_spark.functions.vectors.sq_dist`
    fold and ``cell`` the center's index, so ``[0]["cell"]`` is the
    deterministic argmin (lowest cell on exact-double ties) — the
    order an oracle's ``ORDER BY dist, cell`` produces. The centers
    ride as one folded literal, so the expression has the same size
    for any codebook."""
    return F.array_sort(
        F.transform(
            _folded_rows(centers),
            lambda c, i: F.struct(
                sq_dist(vec, c).alias("dist"), i.alias("cell")
            ),
        )
    )


def _assign_cells_arrow(
    corpus: DataFrame,
    centers: list[list[float]],
    id_col: str,
    vec_col: str,
    coarse: "tuple[list[list[float]], list[int]] | None" = None,
    nprobe: int = 1,
) -> DataFrame:
    """Matmul cell assignment — one numpy ``||v−c||²`` argmin per Arrow
    batch instead of the interpreted per-row :func:`nearest_cells`
    fold, yielding ``[_id, cell, _v]``.

    ``coarse`` = (coarse_centers, fine_owner) from
    ``hierarchical_codebook``: two-level routing through the shared
    :func:`~vspace_spark.functions.kernels.router` over the ``nprobe``
    nearest coarse cells (N·(Kc + nprobe·K/Kc)·D flops instead of
    N·K·D). IVF probes one coarse cell; ``semantic_dedup``'s arrow lane
    passes its ``coarse_nprobe`` (default 2). Meaningful only for
    codebooks whose two levels share trained cluster structure. Ties
    break to the lowest cell id (np.argmin takes the first minimum) —
    the same tie-break as the fold path's struct sort.
    """
    centers_rows = [list(map(float, c)) for c in centers]
    coarse_rows = None if coarse is None else (
        [list(map(float, c)) for c in coarse[0]],
        [int(o) for o in coarse[1]],
    )
    npb = int(nprobe)

    def assign(batches):
        import pandas as pd

        route = router(centers_rows, coarse_rows, npb)
        for pdf in batches:
            if not len(pdf):
                continue
            V = as_matrix(pdf["_vin"])
            yield pd.DataFrame(
                {
                    "_id": pdf["_idin"].astype("int64"),
                    "cell": route(V).astype("int32"),
                    "_v": list(V),
                }
            )

    return corpus.select(
        F.col(id_col).alias("_idin"), F.col(vec_col).alias("_vin")
    ).mapInPandas(assign, "_id long, cell int, _v array<double>")


def _probe_cells_arrow(
    queries: DataFrame,
    centers: list[list[float]],
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Top-``n_probe`` nearest cells per query via one numpy matmul —
    yields ``[query_id, cell, _qv]`` (one row per probed cell). The
    fold twin (``slice(nearest_cells)``) runs one interpreted
    ``sq_dist`` fold per (query, center): 22 s for 2,000 vectors at
    K=1,024 on 4 cores, growing with K (PERF.md "Nearest-cell
    column"), so a large query batch against a large codebook routes
    through numpy too. Ties break (dist, cell) ascending like the fold
    path's struct sort."""
    centers_rows = [list(map(float, c)) for c in centers]
    npb = int(n_probe)

    def probe(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(centers_rows, dtype=np.float64)  # K×D
        c2 = (C * C).sum(1)
        take = min(npb, len(C))
        for pdf in batches:
            if not len(pdf):
                continue
            V = as_matrix(pdf["_vin"])
            top = top_n(center_dists(V, C, c2), take)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["_idin"].to_numpy().astype("int64"), take
                    ),
                    "cell": top.reshape(-1).astype("int32"),
                    "_qv": list(np.repeat(V, take, axis=0)),
                }
            )

    return queries.select(
        F.col(id_col).alias("_idin"), F.col(vec_col).alias("_vin")
    ).mapInPandas(probe, "query_id long, cell int, _qv array<double>")


def refine_codebook(
    corpus: DataFrame,
    centers: list[list[float]],
    coarse: "tuple[list[list[float]], list[int]] | None" = None,
    steps: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[list[list[float]], tuple[list[list[float]], list[int]] | None]":
    """Distributed Lloyd refinement over the FULL corpus: each step is
    ONE Spark job — arrow matmul assignment (two-level when ``coarse``
    is given) emitting per-Arrow-batch PARTIAL sums (cell, count,
    Σvec), then a map-side-combined (cell, dim) aggregation whose
    output is codebook-sized — followed by a driver-side mean. This is
    the Spark-first k-means step: pyspark.ml KMeans pays the same full
    corpus pass ~20 times with row-at-a-time distance code; the
    sample-trained ``hierarchical_codebook`` + 1-2 refinement passes
    recovers full-data cell balance at a fraction of that (recall
    measured in scripts/ivf_trainer_bench.py --refine; the
    sample-vs-full balance gap was the one honest cost of the r9
    trainer swap).

    Returns ``(centers, coarse)`` with coarse centers recomputed as
    the mean of their (moved) fine centers — ownership is preserved,
    so the two-level routing contract (every coarse cell owns ≥1 fine
    center) survives refinement. Empty cells keep their old center.
    Like every trained lane, rows-only by design (float accumulation
    order).
    """
    import numpy as np

    C_cur = [list(map(float, c)) for c in centers]
    owner = None if coarse is None else [int(o) for o in coarse[1]]
    dim = len(C_cur[0])
    for _ in range(int(steps)):
        centers_rows = C_cur
        coarse_rows = None if coarse is None else (
            [list(map(float, c)) for c in coarse[0]],
            owner,
        )

        def partial_sums(batches):
            import numpy as _np
            import pandas as _pd

            route = router(centers_rows, coarse_rows)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = as_matrix(pdf["_vin"])
                cells = route(V)
                uniq = _np.unique(cells)
                sums = _np.zeros((len(uniq), V.shape[1]))
                cnts = _np.zeros(len(uniq), dtype=_np.int64)
                for j, c in enumerate(uniq):
                    mask = cells == c
                    cnts[j] = mask.sum()
                    sums[j] = V[mask].sum(0)
                yield _pd.DataFrame(
                    {
                        "cell": uniq.astype("int32"),
                        "n": cnts,
                        "s": list(sums),
                    }
                )

        partials = corpus.select(
            F.col(vec_col).alias("_vin")
        ).mapInPandas(partial_sums, "cell int, n long, s array<double>")
        # ONE aggregation (and so ONE action = one corpus pass — the
        # original counts/sums pair of collects re-ran the mapInPandas
        # assignment twice per step, ADVICE r9): posexplode the
        # partial sum vectors and fold count + per-dim sum together.
        # Each partial row repeats its n on every pos, so per-(cell,
        # pos) sum(n) IS the cell's total count (identical across pos).
        stats = (
            partials.select(
                "cell", "n", F.posexplode("s").alias("pos", "v")
            )
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("sv"), F.sum("n").alias("n"))
        )
        # bounded-collect: K×D rows — the new centers themselves
        rows = stats.collect()
        n_by_cell = {r.cell: r.n for r in rows if r.pos == 0}
        sv = {(r.cell, r.pos): r.sv for r in rows}
        C_new = []
        for c, old in enumerate(C_cur):
            n = n_by_cell.get(c, 0)
            if not n:
                C_new.append(old)  # empty cell keeps its center
                continue
            C_new.append([sv[(c, p)] / n for p in range(dim)])
        C_cur = C_new
        if coarse is not None:
            own = np.asarray(owner)
            CF = np.asarray(C_cur)
            coarse = (
                [
                    [float(x) for x in CF[own == c].mean(0)]
                    for c in range(len(coarse[0]))
                ],
                owner,
            )
    return C_cur, coarse


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centers: list[list[float]] | None = None,
    assign_engine: str = "fold",
    trainer_sample_rows: int | None = None,
    refine_steps: int = 0,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into cells; each query
    scores only its ``n_probe`` nearest cells. The inverted-file
    structure every vector database uses, expressed relationally:
    assign = broadcast-centroid argmin, probe = equi-join on cell id.

    ``centers=None`` trains the codebook with
    ``operators/dedup.py:hierarchical_codebook`` — driver-side
    hierarchical Lloyd on a deterministic hash-chosen sample (the
    quality path; rows-only under the driver gate because k-means
    centers are float-accumulation-order dependent). This replaced
    pyspark.ml KMeans (VERDICT r8 #1): same clustering quality on the
    recall floor, but the trainer is seconds at K=4096 where ml KMeans
    takes minutes of iterative Spark jobs (PERF.md round 9), it is
    deterministic without a seed, and it hands back the coarse routing
    tier the arrow assigner exploits at corpus scale. The trained
    center count lands within per-cell rounding of ``n_cells``
    (hierarchical_codebook's contract — cells bound, exact K doesn't).
    Passing fixed ``centers`` (e.g. ``portable_hyperplanes(dim,
    n_cells, salt="c")``) makes assignment + probing + ranking fully
    deterministic and SQL-reproducible — the oracle-checked path
    (``ann_ivf_fixed_top5``). All paths share the probe/score plan.

    ``assign_engine``: ``"fold"`` (default) assigns the corpus with
    the deterministic (dist, cell) struct argmin — an interpreted
    per-row fold over ALL centers, fine at small K and exactly
    SQL-mirrorable. ``"arrow"`` assigns with one numpy matmul per
    Arrow batch (requires an integral ``id_col``); with a trained
    codebook it routes two-level through the coarse tier —
    N·(Kc + K/Kc)·D flops instead of N·K·D — which is what makes
    K ≥ 2048 codebooks practical (the flat interpreted fold was the
    measured ANN bottleneck, PERF.md round 3).

    At 100 TB: training samples a fraction (driver-side, bounded
    collect), assignment is a narrow map, and the cell-partitioned
    corpus can be written out bucketed by cell so probes become
    partition-pruned scans.
    """
    if assign_engine not in ("fold", "arrow"):
        raise ValueError(f"unknown assign_engine: {assign_engine}")
    if assign_engine == "arrow":
        _require_integral_ids(
            "ivf_topk(assign_engine='arrow')", id_col,
            corpus=corpus, queries=queries,
        )
    coarse = None
    if centers is None:
        from vspace_spark.operators.dedup import hierarchical_codebook

        fine, coarse_centers, owner = hierarchical_codebook(
            corpus,
            n_cells,
            id_col=id_col,
            vec_col=vec_col,
            sample_rows=trainer_sample_rows,
        )
        centers = fine
        coarse = (coarse_centers, owner)
        if refine_steps:
            # full-corpus Lloyd passes recover the cell balance a
            # sample-trained codebook lacks on structure-free data —
            # one Spark job per step (see refine_codebook)
            centers, coarse = refine_codebook(
                corpus,
                centers,
                coarse,
                steps=refine_steps,
                id_col=id_col,
                vec_col=vec_col,
            )

    if assign_engine == "arrow":
        # the query side goes through the same numpy matmul: the fold
        # probe's per-(query, center) sq_dist folds grow with K
        cells = _assign_cells_arrow(corpus, centers, id_col, vec_col, coarse)
        probes = _probe_cells_arrow(queries, centers, id_col, vec_col, n_probe)
        q = _normed(probes, "q", "query_id", "_qv", "cell")
        c = _normed(cells, "c", "_id", "_v", "cell")
    else:
        # (dist, cell) field order gives the deterministic lowest-cell
        # tie-break the fixed-codebook oracle's ORDER BY dist, cell
        # mirrors
        cells = nearest_cells(F.col(vec_col), centers)
        q = _normed(
            queries, "q", id_col, vec_col, F.inline(F.slice(cells, 1, n_probe))
        )
        # the coalesce makes the cell non-nullable (the folded centers
        # are never empty), so the join infers no isnotnull(cell)
        # filter: pushed below this projection, that filter evaluated
        # the K-center fold a second time per corpus row
        c = _normed(
            corpus, "c", id_col, vec_col,
            F.coalesce(cells[0]["cell"], F.lit(-1)).alias("cell"),
        )
    return _cos_top_k(
        c.join(F.broadcast(q), "cell").filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        k,
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    spark,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 4,
    tables: int = 8,
    dim: int = 64,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k with OR-amplified LSH: ``tables`` independent
    ``bits``-bit signatures; a corpus vector is a candidate if it shares
    ANY table's bucket with the query (P ≈ 1-(1-p^bits)^tables for
    per-hyperplane agreement p). Candidates per query ≈
    tables × N / 2^bits, still ≪ N.

    ``planes`` overrides the hyperplane source (pass
    :func:`portable_hyperplanes` for the md5-derived oracle-checkable
    set, whose width is then the dim); the default is the
    xxhash64-derived set at ``dim`` (:func:`xxhash_hyperplanes`). Both
    sides share one :func:`lsh_buckets` column, so building the query
    runs no job; vectors of another size fail.

    At 100 TB the corpus side is hashed once (narrow projection) and the
    exploded (table, bucket) index can be persisted/partitioned; only
    candidate buckets are ever scored.

    Returns ``[query_id, neighbor_id, rank]`` (rank within candidates).
    """
    if planes is None:
        planes = xxhash_hyperplanes(dim, bits * tables)
    buckets = F.explode(
        lsh_buckets(F.col(vec_col), planes, bits, tables)
    ).alias("sig")

    # norms computed BEFORE the table explode, once per VECTOR, not
    # per posting row (`tables`× more folds, which on this OR-amplified
    # layout is more folds than the candidates save)
    c = _normed(corpus, "c", id_col, vec_col, buckets).select(
        "neighbor_id", "_cv", "_cn", "sig.tbl", "sig.bucket"
    )
    q = _normed(queries, "q", id_col, vec_col, buckets).select(
        "query_id", "_qv", "_qn", "sig.tbl", "sig.bucket"
    )
    candidates = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv", "_qn", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _cos_top_k(candidates, k)


def pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 256,
    dim: int = 64,
) -> DataFrame:
    """PQ codebook as a tiny (m × ksub)-row table ``(sub, cid, pv)`` —
    DATA-DRIVEN yet fully deterministic and SQL-reproducible: entry
    ``c`` of subspace ``s`` is the s-th slice of the corpus vector
    with the ``c``-th smallest ``(md5(id), id)``. A content-addressed
    sample — the classic random-init codebook with no RNG state (a
    pure md5-random codebook carries no information about the data
    distribution and measured recall 0; k-means training would add
    ~0.12 recall but is engine-specific — that quality lane stays
    ``ann_ivf_top5``'s trained hierarchical-Lloyd path).

    Built RELATIONALLY (r14, VERDICT r13 #9): the old form collected
    the ksub seed rows to the driver and re-uploaded them via
    createDataFrame — one extra Spark job (+ a driver round-trip of
    ksub full vectors) at the head of every lane. Now the seed pick
    is a top-ksub sort + a row_number over the ksub survivors + an
    explode into the m sub-slices, persisted (m·ksub rows,
    KNOWN_SMALL) so the encode's and probe's broadcasts both read one
    cached copy — the seed scan rides the lane's own first job.
    Values are bit-identical: cid is the same (md5(id), id) rank, and
    the array<double> slice cast is the same exact IEEE widening the
    old ``float(x)`` performed."""
    sub = dim // m
    from vspace_spark.operators.scale import KNOWN_SMALL, persist_shared

    w = Window.orderBy("_h", "_id")
    seeds = (
        corpus.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        )
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h", "_id")
        .limit(ksub)
        # row_number over the ksub SURVIVORS only — a bounded
        # single-partition window (like the tfidf query-terms one),
        # never over the corpus
        .withColumn("cid", (F.row_number().over(w) - 1).cast("int"))
    )
    return persist_shared(
        seeds.select(
            "cid",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).cast("int").alias("sub"),
                            F.slice("_v", s * sub + 1, sub)
                            .cast("array<double>")
                            .alias("pv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("_s"),
        ).select(
            F.col("_s.sub").alias("sub"), "cid", F.col("_s.pv").alias("pv")
        ),
        KNOWN_SMALL,  # m·ksub rows of dim/m doubles (~2 MB at defaults)
    )


def pq_codebook_rows(pc: DataFrame) -> list[tuple[int, int, list[float]]]:
    """A :func:`pq_codebook` table as driver-side ``(sub, cid, pv)``
    rows, the form the Arrow IVF-PQ lanes take."""
    return [
        (r["sub"], r["cid"], list(r["pv"]))
        for r in pc.collect()  # bounded-collect: m*ksub codebook rows
    ]


def _nested_codebook(pc_rows, m: int, ksub: int) -> list:
    """``pc_rows`` as the m × ksub × (dim/m) nested list of floats."""
    codebook = [[None] * ksub for _ in range(m)]
    for s, c, pv in pc_rows:
        codebook[s][c] = [float(x) for x in pv]
    return codebook


def ivf_pq_encode(
    corpus: DataFrame,
    pc: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 16,
    dim: int = 64,
) -> DataFrame:
    """One-time IVF-PQ index build: coarse cell (argmin over the fixed
    md5 centers) + the m per-subspace codes, one row per vector —
    ``(id, cell, code_0..code_{m-1})``, 16 small ints instead of 64
    floats (~32× smaller on disk; scripts/pq_probe_bench.py measures
    it). Embarrassingly parallel: corpus × broadcast codebook, argmin
    with map-side partial ``min(struct)``, then a pivot to the wide
    byte layout. Write it partitioned by cell and probes become
    partition-pruned scans."""
    sub = dim // m
    centers = portable_hyperplanes(dim, n_cells, salt="c")
    with_cell = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        nearest_cells(F.col(vec_col), centers)[0]["cell"].alias("cell"),
    )
    # Explode BY SUBSPACE before the ksub-wide codebook join (guide
    # §2.3 — r14): the old shape cross-joined every vector row with
    # all m·ksub codebook rows, so each of the N×(m·ksub) intermediate
    # rows carried the FULL dim-float vector (and re-sliced it inside
    # the fold, m·ksub slices per vector). Pre-slicing into m
    # (sub, slice) rows carries dim/m floats through the join — ~m×
    # narrower rows — and slices each vector exactly m times; the join
    # is an equi-join on `sub`. The float path is IDENTICAL: the same
    # slice elements feed the same zip_with/left-fold in the same
    # order (oracle-pinned; the planted-equality test and
    # `ann_ivf_pq_top5`'s SQL oracle both hold bit-for-bit).
    by_sub = with_cell.select(
        id_col,
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("_v", s * sub + 1, sub).alias("_vs"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_s"),
    ).select(id_col, "cell", F.col("_s.sub"), F.col("_s._vs"))
    enc_long = (
        by_sub.join(F.broadcast(pc), "sub")
        .select(
            id_col,
            "cell",
            "sub",
            "cid",
            sq_dist(F.col("_vs"), F.col("pv")).alias("_d2"),
        )
        .groupBy(id_col, "cell", "sub")
        .agg(F.min(F.struct("_d2", "cid"))["cid"].alias("cid"))
    )
    return enc_long.groupBy(id_col, "cell").agg(
        *[
            F.max(F.when(F.col("sub") == s, F.col("cid")))
            .cast("int")
            .alias(f"code_{s}")
            for s in range(m)
        ]
    )


def ivf_pq_probe(
    queries: DataFrame,
    index: DataFrame,
    pc: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    dim: int = 64,
    keep_dist: bool = False,
) -> DataFrame:
    """Probe a prebuilt IVF-PQ index with asymmetric distance
    computation: per (query, probed cell) an m × ksub lookup table
    from the query's sub-distances to every codebook entry; a
    candidate's distance is m table lookups summed in FIXED subspace
    order (single-element conditional sums — no unordered float
    aggregation, so ranks value-hash-match across engines). The raw
    embedding column is never read or shuffled — only codes move; ADC
    tables are query-batch-sized broadcasts.

    ``keep_dist=True`` appends the raw ``_dist`` column — the
    canonical ADC score the margin-aware agreement gates compare
    lane outputs against (queries/agreement.py); default output is
    unchanged."""
    sub = dim // m
    centers = portable_hyperplanes(dim, n_cells, salt="c")
    melted = index.select(
        F.col(id_col).alias("neighbor_id"),
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.col(f"code_{s}").alias("cid"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_sc"),
    ).select("neighbor_id", "cell", "_sc.sub", "_sc.cid")

    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_v"),
        F.inline(
            F.slice(nearest_cells(F.col(vec_col), centers), 1, n_probe)
        ),
    )
    # one row per (query, probed cell, subspace, centroid): the slice
    # start is the pc row's sub column, no ksub-wide projections
    sub_vec = F.slice(F.col("_v"), F.col("sub") * sub + 1, sub)
    adc = probes.join(F.broadcast(pc)).select(
        "query_id",
        "cell",
        "sub",
        "cid",
        sq_dist(sub_vec, F.col("pv")).alias("_qd2"),
    )

    dist = F.sum(F.when(F.col("sub") == 0, F.col("_qd2")))
    for s in range(1, m):
        dist = dist + F.sum(F.when(F.col("sub") == s, F.col("_qd2")))

    scored = (
        melted.join(F.broadcast(adc), ["cell", "sub", "cid"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(dist.alias("_dist"))
    )
    return _top_k(
        scored, k, F.asc("_dist"), ("_dist",) if keep_dist else ()
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 256,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ ANN — the memory-compressed index large vector stores
    run at scale (Jegou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): a coarse inverted file (16 md5-derived cells,
    as :func:`ivf_topk`) selects candidates, and PRODUCT QUANTIZATION
    scores them — each 64-dim vector splits into ``m=16`` 4-dim
    subspaces, each encoded as its nearest of ``ksub=256`` codebook
    entries (:func:`pq_codebook`), so a corpus vector is stored as 16
    byte-sized codes (16 bytes vs 512: 32× index compression).
    Vectors are quantized RAW, not as IVF residuals (FAISS's
    ``by_residual=false``): the coarse centers here are md5-random
    rather than trained, so residuals would be large and
    cell-dependent — a shared codebook on them measured recall 0.
    Sampled codebooks trade recall vs trained ones (0.56 vs 0.68
    measured; tests/test_similarity.py asserts the floor).

    Composition of the real vector-store lifecycle:
    :func:`ivf_pq_encode` (one-time index build — at 100 TB the codes
    table is ~1/32nd of the vectors and lives partitioned by cell) and
    :func:`ivf_pq_probe` (codes-only scoring; raw vectors never move).

    Returns ``[query_id, neighbor_id, rank]`` (rank by approximate
    distance).
    """
    pc = pq_codebook(
        corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, dim=dim
    )
    index = ivf_pq_encode(
        corpus,
        pc,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        m=m,
        dim=dim,
    )
    return ivf_pq_probe(
        queries,
        index,
        pc,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        n_cells=n_cells,
        n_probe=n_probe,
        m=m,
        dim=dim,
    )


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Vectorized brute-force top-k: the 100 TB batch-scoring shape.
    The JVM fold path (:func:`brute_force_topk`) evaluates cosine with
    higher-order functions — interpreted (CodegenFallback), ~µs per
    pair — fine at fixture scale, the hot-path bottleneck beyond it.
    This path broadcasts the (small, by contract) query matrix into a
    ``mapInPandas`` scan and scores each Arrow batch with ONE numpy
    matmul (norms precomputed), emitting only the per-batch top-k per
    query; an exact JVM window merges the partial top-ks. Wire volume
    is ≤ k × queries × batches rows — the corpus never shuffles.

    Rank parity with the fold path is not bit-guaranteed (BLAS
    pairwise/SIMD summation vs strict left fold can flip near-ties),
    so this registers rows-only; tests/test_similarity.py asserts the
    two paths agree on the fixture. The closure holds the queries as a
    plain list literal and references only the by-value kernels —
    executors cannot import this repo when the driver runs elsewhere
    (NOTES.md seam #2).

    Returns ``[query_id, neighbor_id, rank]``.
    """
    _require_integral_ids(
        "brute_force_topk_arrow", id_col, queries=queries, corpus=corpus
    )
    q_ids, q_mat = _query_matrix(queries, id_col, vec_col)
    kk = int(k)

    def score(batches):
        import numpy as np
        import pandas as pd

        Q = np.asarray(q_mat, dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        qid = np.asarray(q_ids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            C = as_matrix(pdf["_cv"])
            cid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cn = np.linalg.norm(C, axis=1)
            cos = (C @ Q.T) / np.outer(cn, qn)  # batch × queries
            for j in range(cos.shape[1]):
                col = cos[:, j]
                mask = cid != qid[j]
                order = np.lexsort((cid[mask], -col[mask]))[:kk]
                take = np.flatnonzero(mask)[order]
                yield pd.DataFrame(
                    {
                        "query_id": qid[j].repeat(len(take)),
                        "neighbor_id": cid[take],
                        "_cos": col[take],
                    }
                )

    partial = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).mapInPandas(
        score, "query_id long, neighbor_id long, _cos double"
    )
    return _top_k(partial, k, F.desc("_cos"))


def ivf_pq_encode_arrow(
    corpus: DataFrame,
    pc_rows: list[tuple[int, int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 16,
    ksub: int = 256,
    dim: int = 64,
    codebook: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Vectorized IVF-PQ index build — the encode-side hot path. The
    relational encode (:func:`ivf_pq_encode`) materializes
    corpus × (m × ksub) rows (4096× fan-out) with interpreted folds —
    exhaustively oracle-checkable, but the measured bottleneck of the
    probe benchmark at 200k vectors. Here each Arrow batch does the
    whole assignment with three numpy matmuls (coarse argmin + m
    subspace argmins) and emits the final wide row — no fan-out, no
    shuffle, scan-speed.

    Same contract caveat as :func:`brute_force_topk_arrow`: BLAS
    summation can flip exact-tie argmins vs the fold path, so this is
    the rows-only production twin; tests/test_similarity.py asserts
    code-for-code agreement with the relational encode on the fixture
    (tie-free). ``codebook`` takes the m × ksub × sub nested list
    (derive from :func:`pq_codebook` output or pass directly).
    """
    _require_integral_ids("ivf_pq_encode_arrow", id_col, corpus=corpus)
    if codebook is None:
        if pc_rows is None:
            pc_rows = pq_codebook_rows(
                pq_codebook(
                    corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub,
                    dim=dim,
                )
            )
        codebook = _nested_codebook(pc_rows, m, ksub)
    cb = [[list(map(float, v)) for v in sub_cb] for sub_cb in codebook]
    ctr = portable_hyperplanes(dim, n_cells, salt="c")
    mm, sub = m, dim // m

    def encode(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(ctr)                      # n_cells × dim
        CB = [np.asarray(sub_cb) for sub_cb in cb]  # m × (ksub × sub)
        for pdf in batches:
            if not len(pdf):
                continue
            V = as_matrix(pdf["_v"])
            d2 = (
                (V * V).sum(1, keepdims=True)
                - 2.0 * (V @ C.T)
                + (C * C).sum(1)
            )
            out = {"_id": pdf["_id"].to_numpy(), "cell": d2.argmin(1)}
            for s in range(mm):
                Vs = V[:, s * sub : (s + 1) * sub]
                B = CB[s]
                ds = (
                    (Vs * Vs).sum(1, keepdims=True)
                    - 2.0 * (Vs @ B.T)
                    + (B * B).sum(1)
                )
                out[f"code_{s}"] = ds.argmin(1).astype("int32")
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"_id long", "cell int"] + [f"code_{s} int" for s in range(mm)]
    )
    return (
        corpus.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        )
        .mapInPandas(encode, schema)
        .withColumnRenamed("_id", id_col)
    )


def ivf_pq_probe_arrow(
    queries: DataFrame,
    index: DataFrame,
    pc_rows: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 256,
    dim: int = 64,
) -> DataFrame:
    """Vectorized IVF-PQ probe — the production twin of
    :func:`ivf_pq_probe` (whose ADC join was the measured 10.5 s at
    200k vectors). The whole probe is one ``mapInPandas`` over the
    CODES table: each Arrow batch filters to the queries' probed
    cells, gathers the precomputed ADC tables (m × ksub numpy arrays
    per query, built driver-side from the query batch — tiny), sums m
    gathered columns per candidate, and emits the per-batch top-k per
    query; an exact JVM window merges partials. Raw vectors are never
    read; per-batch work is integer gathers + one sum — no JVM fold
    anywhere. Same rows-only caveat as the other Arrow twins (BLAS
    vs fold summation on exact ties); agreement with the relational
    probe is asserted in tests/test_similarity.py.
    """
    _require_integral_ids(
        "ivf_pq_probe_arrow", id_col, queries=queries, index=index
    )
    q_ids, q_mat = _query_matrix(queries, id_col, vec_col)
    ctr = portable_hyperplanes(dim, n_cells, salt="c")
    cb = _nested_codebook(pc_rows, m, ksub)
    kk, mm, npb = int(k), int(m), int(n_probe)

    def probe(batches):
        import numpy as np
        import pandas as pd

        Q = np.asarray(q_mat)                      # nq × dim
        C = np.asarray(ctr)                        # n_cells × dim
        CB = [np.asarray(sub_cb) for sub_cb in cb]
        qid = np.asarray(q_ids, dtype=np.int64)
        # probed cells per query: n_probe smallest L2 cells
        qd = (
            (Q * Q).sum(1, keepdims=True) - 2.0 * (Q @ C.T) + (C * C).sum(1)
        )
        probed = top_n(qd, npb)
        # ADC tables: nq × m × ksub
        adc = np.stack(
            [
                (Qs * Qs).sum(1, keepdims=True)
                - 2.0 * (Qs @ B.T)
                + (B * B).sum(1)
                for s, B in enumerate(CB)
                for Qs in [Q[:, s * (Q.shape[1] // mm):(s + 1) * (Q.shape[1] // mm)]]
            ],
            axis=1,
        )
        for pdf in batches:
            if not len(pdf):
                continue
            cell = pdf["cell"].to_numpy()
            cid = pdf[[f"code_{s}" for s in range(mm)]].to_numpy()
            nid = pdf["_nid"].to_numpy(dtype=np.int64)
            for j in range(len(qid)):
                mask = np.isin(cell, probed[j]) & (nid != qid[j])
                if not mask.any():
                    continue
                codes_j = cid[mask]
                dist = np.zeros(codes_j.shape[0])
                for s in range(mm):
                    dist += adc[j, s, codes_j[:, s]]
                order = np.lexsort((nid[mask], dist))[:kk]
                take = np.flatnonzero(mask)[order]
                yield pd.DataFrame(
                    {
                        "query_id": qid[j].repeat(len(take)),
                        "neighbor_id": nid[take],
                        "_dist": dist[order],
                    }
                )

    partial = index.select(
        F.col(id_col).alias("_nid"),
        "cell",
        *[f"code_{s}" for s in range(m)],
    ).mapInPandas(probe, "query_id long, neighbor_id long, _dist double")
    return _top_k(partial, k, F.asc("_dist"))
