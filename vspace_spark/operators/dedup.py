"""Deduplication operators for LLM-data pipelines (BASELINE.json north
star) — exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Scale design (the part that matters at 100 TB):
- NOTHING here cross-joins two fact-sized inputs. Candidate pairs come
  from inverted-index equi-joins (shingle → docs), LSH band buckets, or
  a blocking key — all shuffle-on-key plans that AQE can skew-split.
- Signatures (MinHash/SimHash) are computed inside column expressions
  (JVM-side, no Python, one pass) from one of two hash families,
  ``_FAMILIES``: built-in ``xxhash64`` (production) or md5-portable
  (the DuckDB-oracle definition); each skeleton is written once.
- Pair outputs are canonicalized (a < b) so downstream connected-
  components / keep-one logic is deterministic.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vspace_spark.functions.kernels import as_matrix, nearest_center
from vspace_spark.functions.text import ngrams_col, tokenize_col
from vspace_spark.functions.vectors import cosine_from_norms, l2_norm


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup keeping the smallest id per duplicate group — a
    deterministic ``dropDuplicates`` (which keeps an arbitrary row).
    One hash aggregation; no window needed."""
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return keep.join(df, [*key_cols, id_col], "inner")


def shingle_pairs_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact n-gram-Jaccard similar pairs via an INVERTED INDEX join,
    with an EXACT-DEDUP PREPASS (the production exact→near pipeline).

    ``J(a,b) = |A∩B| / |A∪B|`` over distinct word n-gram shingle sets.
    With ``collapse_exact`` (default): a clone-density probe
    (:func:`_clone_light`, one scalar aggregate) first skips the
    prepass on clone-light corpora where it is pure overhead (VERDICT
    r4 #3 — both paths are output-identical, so the probe affects
    cost only); otherwise verbatim clones collapse per
    (block, md5(text)) in one hash aggregation, the inverted-index
    join runs on canonical representatives only, and the result
    expands back — cross-group member pairs inherit their canonicals'
    jaccard (identical texts ⇒ identical shingle sets ⇒ the same
    c/(sza+szb−c) double, bit-for-bit), intra-group pairs are exactly
    1.0 (= sz/(2sz−sz)). Output is IDENTICAL to pairing the raw
    corpus (planted-fixture equality test in tests/test_dedup.py);
    what changes is that a clone cluster of k docs costs k² only in
    final OUTPUT rows, never in shingle-join rows — measured 483 s →
    see PERF.md at the 100×-replica clone-stress bench. Docs with
    fewer than ``n`` tokens have no shingles and never pair (both
    paths agree).

    Raw path (``collapse_exact=False``): any pair with J > 0 shares
    ≥1 shingle, so joining the exploded (shingle → doc) index to
    itself enumerates exactly the candidate pairs with nonzero
    similarity — never the O(N²) cross join. Common shingles are
    counted per pair in one aggregation; set sizes join back in.
    ``block_col`` (e.g. source) restricts pairs and bounds hot-shingle
    skew in both paths.

    Returns ``[a, b, jaccard]`` with a < b and jaccard ≥ threshold.
    """
    block = [block_col] if block_col else []
    if not collapse_exact or _clone_light(docs, text_col):
        return _shingle_pairs_raw(
            docs, id_col, text_col, n, threshold, block
        )
    canon_docs, members = _collapse_docs(
        docs, id_col, text_col, min_tokens=n, block=block
    )
    raw = _shingle_pairs_raw(
        canon_docs, id_col, text_col, n, threshold, block
    )
    return _expand_pairs(
        raw.select("a", "b", "jaccard"), members, {"jaccard": F.lit(1.0)}
    )


def _collapse_by_key(
    docs: DataFrame,
    id_col: str,
    keep_cols: list[str],
    key: F.Column,
    block: list[str] | tuple = (),
    max_group: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup prepass shared by every pair generator: group rows
    by (block, ``key``), pick min-id canonicals, return
    ``(canon_docs, members)`` where members maps every row to its
    canonical. ``max_group`` is the collapse-path analogue of the
    hot-bucket guard: clone groups larger than it are excluded
    outright. NOTE the semantics are intentionally DIFFERENT from the
    raw guard, not a pair-for-pair match — see
    :func:`minhash_lsh_pairs`. The members map is cached and
    materialized so the expansion joins plan from honest sizes; the
    level follows the shared policy (VERDICT r9 #1) with the source's
    decompressed bytes as an upper bound — members is two id columns
    per input row, strictly narrower than the source."""
    keyed = docs.select(
        F.col(id_col).alias("_cid"), *block, *keep_cols, key.alias("_ch")
    )
    canon = keyed.groupBy(*block, "_ch").agg(F.min("_cid").alias("_canon"))
    with_canon = keyed.join(canon, [*block, "_ch"])
    members = with_canon.select("_canon", F.col("_cid").alias("_m"))
    if max_group is not None:
        # Broadcast the OVER-cap set and anti-join, never the ok set:
        # groups over cap number at most |corpus|/cap (small by
        # construction — same argument as drop_hot_buckets), while the
        # ok set is essentially every distinct text in the corpus — a
        # guaranteed driver OOM to broadcast at real scale.
        bad = (
            members.groupBy("_canon")
            .agg(F.count("*").alias("_gn"))
            .filter(F.col("_gn") > max_group)
            .select("_canon")
        )
        members = members.join(F.broadcast(bad), "_canon", "left_anti")
    from vspace_spark.operators.scale import (
        _SLIM_DISK_FLOOR,
        est_relation_bytes,
        persist_shared,
    )

    # slim (member-id, canon-id) pair table, consumed by every later
    # stage — the round-12 floor A/B's shape: disk at the lower slim
    # floor, never heap-parked in the 128–512 MB band (see
    # _SLIM_DISK_FLOOR's rationale in operators/scale.py)
    members = persist_shared(
        members,
        est_relation_bytes(docs),
        floor_bytes=_SLIM_DISK_FLOOR,
    )
    members.count()  # bounded-collect: one scalar, forces the cache
    canon_docs = with_canon.filter(F.col("_cid") == F.col("_canon"))
    if max_group is not None:
        canon_docs = canon_docs.join(
            members.select(F.col("_canon").alias("_cid")).distinct(), "_cid"
        )
    canon_docs = canon_docs.select(
        F.col("_cid").alias(id_col), *block, *keep_cols
    )
    return canon_docs, members


_CLONE_LIGHT_RATIO = 0.9

# probe memo keyed by (plan semanticHash, key expr): every collapse-
# capable operator probes eagerly at call time, so a query that builds
# several generators over the SAME corpus (dedup_keep_best: probe +
# _collapse_docs; a future foreachBatch caller: probe per micro-batch
# over a static frame) would otherwise re-scan per invocation
# (ADVICE r5). A hit is safe-by-construction: collapsed and raw paths
# are output-identical, so a stale or hash-collided verdict can only
# change COST, never results. Bounded; cleared implicitly per process.
_CLONE_LIGHT_MEMO: dict[tuple[int, str], bool] = {}
_CLONE_LIGHT_MEMO_CAP = 256


def clear_clone_probe_memo() -> None:
    """Drop every memoized clone-density verdict.

    The memo is keyed by (plan semanticHash, key expr) and never
    invalidated, so a verdict survives mutation of the underlying
    files read through an identical plan (a re-staged fixture, a
    growing source). That staleness is cost-only TODAY because every
    collapse-capable caller guarantees collapsed/raw output identity —
    an invariant each caller must register an equality test for (see
    tests/test_dedup.py::test_every_clone_light_caller_has_identity_test).
    Long-lived sessions that re-stage data under unchanged paths
    (foreachBatch loops, notebook reruns) can call this to re-probe.
    """
    _CLONE_LIGHT_MEMO.clear()


def _clone_light(docs: DataFrame, key) -> bool:
    """Scalar probe (bounded-collect: one aggregated row) deciding
    whether the exact-collapse prepass pays for itself on this corpus:
    ``approx_count_distinct(key) ≈ count`` means (almost) no verbatim
    clones, so the collapse's groupBy + join + cache-materialization
    jobs are pure overhead (VERDICT r4 measured ~+1.8 s per dedup
    query at sf0.1 on the clone-light fixtures) while the raw path is
    output-identical — skip straight to it. The 0.9 ratio absorbs
    approx_count_distinct's ~5% rsd; genuinely clone-heavy corpora
    (the 100×-replica stress: ratio ≈ 0.01) always collapse. Callers
    consult this ONLY when ``max_group`` is None: with a group cap
    the collapsed path's guard semantics are intentionally different
    (see :func:`minhash_lsh_pairs`), and which semantics apply must
    not depend on a data probe. Cost: one scan + one
    map-side-combined HLL aggregate — far below the collapse
    machinery it can save, negligible beside the pair joins it
    cannot; memoized per (plan, key) so repeated generators over the
    same corpus scan once (see ``_CLONE_LIGHT_MEMO``)."""
    try:
        memo_key = (docs.semanticHash(), str(key))
    except Exception:  # plan not hashable (e.g. some local relations)
        memo_key = None
    if memo_key is not None and memo_key in _CLONE_LIGHT_MEMO:
        return _CLONE_LIGHT_MEMO[memo_key]
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(key).alias("d"),
    ).first()
    light = row.n == 0 or row.d / row.n >= _CLONE_LIGHT_RATIO
    if memo_key is not None:
        if len(_CLONE_LIGHT_MEMO) >= _CLONE_LIGHT_MEMO_CAP:
            _CLONE_LIGHT_MEMO.clear()
        _CLONE_LIGHT_MEMO[memo_key] = light
    return light


def _collapse_docs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    block: list[str] | tuple = (),
    max_group: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Text-corpus front end of :func:`_collapse_by_key`: key =
    md5(text); ``min_tokens`` drops docs that cannot produce a
    signature/shingle (they never pair in the raw formulation either,
    so the expansion stays output-identical)."""
    return _collapse_by_key(
        docs.filter(F.size(tokenize_col(text_col)) >= min_tokens),
        id_col,
        [text_col],
        F.md5(text_col),
        block=block,
        max_group=max_group,
    )


def _expand_pairs(
    raw: DataFrame,
    members: DataFrame,
    intra_metrics: dict[str, F.Column],
) -> DataFrame:
    """Expand canonical-level pairs back to member-level pairs:
    cross-group pairs inherit their canonicals' metric columns
    verbatim (identical texts ⇒ identical signatures/shingle sets ⇒
    identical metric arithmetic), intra-group pairs take the supplied
    exact-duplicate literals (jaccard/est_jaccard 1.0, hamming 0)."""
    metric_names = [c for c in raw.columns if c not in ("a", "b")]
    dtypes = dict(raw.dtypes)
    ma = members.select(F.col("_canon").alias("a"), F.col("_m").alias("_ma"))
    mb = members.select(F.col("_canon").alias("b"), F.col("_m").alias("_mb"))
    cross = (
        raw.join(ma, "a")
        .join(mb, "b")
        .select(
            F.least("_ma", "_mb").alias("a"),
            F.greatest("_ma", "_mb").alias("b"),
            *metric_names,
        )
    )
    intra = (
        members.alias("x")
        .join(members.alias("y"), "_canon")
        .filter(F.col("x._m") < F.col("y._m"))
        .select(
            F.col("x._m").alias("a"),
            F.col("y._m").alias("b"),
            *[
                intra_metrics[m].cast(dtypes[m]).alias(m)
                for m in metric_names
            ],
        )
    )
    return cross.unionByName(intra)


def _shingle_pairs_raw(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    block: list[str],
) -> DataFrame:
    """The inverted-index pair generation itself (see
    :func:`shingle_pairs_jaccard`)."""
    from vspace_spark.operators.scale import (
        TOKEN_STREAM_EXPANSION,
        est_relation_bytes,
        persist_shared,
        rebalance_for_compute,
    )

    est = est_relation_bytes(docs, expansion=TOKEN_STREAM_EXPANSION)
    docs = rebalance_for_compute(docs)
    # exploded shingle stream — several times the document bytes, so
    # the persist-policy estimate carries the token-stream expansion
    # factor (VERDICT r9 #1 / ADVICE r9)
    shingles = persist_shared(
        docs.select(
            F.col(id_col).alias("_id"),
            *block,
            F.explode(
                F.array_distinct(ngrams_col(tokenize_col(text_col), n))
            ).alias("shingle"),
        ),
        est,
    )
    # persisted: consumed three times (sizes + both sides of the
    # self-join) — without it the tokenize/shingle pipeline re-runs per
    # consumer. MATERIALIZED eagerly so join planning sees the cache's
    # ACTUAL size: the static estimate for scan→explode descends from
    # the COMPRESSED file size, and a dictionary-encoded corpus
    # under-reports its shingle fan-out by 1000× — measured at the
    # 100×-replica bench, the planner broadcast a 4 GiB self-join side
    # it had estimated in the MBs (driver OOM at any real scale). With
    # honest InMemoryRelation stats the planner still broadcasts small
    # corpora (fast local path) and shuffles big ones.
    shingles.count()  # bounded-collect: one scalar, forces the cache
    sizes = shingles.groupBy("_id").agg(F.count("*").alias("_sz"))
    left = shingles.select(
        *block, F.col("_id").alias("a"), F.col("shingle")
    )
    right = shingles.select(
        *[F.col(c).alias(f"_r_{c}") for c in block],
        F.col("_id").alias("b"),
        F.col("shingle").alias("_r_shingle"),
    )
    cond = (F.col("shingle") == F.col("_r_shingle")) & (F.col("a") < F.col("b"))
    for c in block:
        cond = cond & (F.col(c) == F.col(f"_r_{c}"))
    common = (
        left.join(right, cond)
        .groupBy("a", "b")
        .agg(F.count("*").alias("_common"))
    )
    sz_a = sizes.select(F.col("_id").alias("a"), F.col("_sz").alias("_sza"))
    sz_b = sizes.select(F.col("_id").alias("b"), F.col("_sz").alias("_szb"))
    jac = (
        common.join(sz_a, "a")
        .join(sz_b, "b")
        .select(
            "a",
            "b",
            (
                F.col("_common")
                / (F.col("_sza") + F.col("_szb") - F.col("_common"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def drop_hot_buckets(
    blocked: DataFrame, keys: list[str], max_bucket_size: int
) -> DataFrame:
    """Skew guard for LSH-style bucket self-joins: drop every bucket
    with more than ``max_bucket_size`` members before the join.

    The (band, bucket) / (chunk, val) key is Zipf-exposed on degenerate
    corpora — one giant near-identical cluster puts k docs in one
    bucket and the self-join emits k² candidate pairs (VERDICT r2 #5).
    Same design as the stop-shingle cutoff in
    :func:`shingle_pairs_jaccard`: a bucket that hot means the members
    are trivially near-identical; cap it and let the remaining
    ``bands - 1`` bands (or an exact-dedup pre-pass, which such a
    cluster would satisfy) catch the pairs. The oversized-bucket set is
    by construction ≤ |corpus| / max_bucket_size keys → broadcast
    anti-join, no extra shuffle of the blocked stream.
    """
    hot = (
        blocked.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
        .select(*keys)
    )
    return blocked.join(F.broadcast(hot), keys, "left_anti")


def _md5_60(c: F.Column) -> F.Column:
    # 15 hex chars = 60 bits → always a positive BIGINT; DuckDB twin:
    # ('0x' || substr(md5(x), 1, 15))::BIGINT
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


class _HashFamily(NamedTuple):
    """Everything the ``"portable"`` and ``"xxhash64"`` MinHash/SimHash
    twins differ on; signature, banding and pair skeletons are shared.

    - ``seed_hash(i, shingle)``: the MinHash per-seed shingle hash;
    - ``bucket(band)``: the band bucket key from the band's values
      joined as a string, of type ``bucket_type``;
    - ``token_hash(token)``: the SimHash bit pattern, ``sim_bits``
      wide (md5 gives 15 hex chars, so the portable width is 60 bits
      and never reaches the sign bit).

    ``"portable"`` (md5, the string bucket) is reproducible in ANSI SQL
    — every signature, bucket and distance sits under the DuckDB
    value-hash oracle. ``"xxhash64"`` is one JVM hash instruction per
    seed instead of md5's per-seed string digest: the production lane,
    with no SQL twin."""

    seed_hash: Callable[[int, F.Column], F.Column]
    bucket: Callable[[F.Column], F.Column]
    bucket_type: T.DataType
    token_hash: Callable[[F.Column], F.Column]
    sim_bits: int


_FAMILIES = {
    "portable": _HashFamily(
        seed_hash=lambda i, sh: _md5_60(F.concat_ws(":", F.lit(str(i)), sh)),
        bucket=lambda band: band,
        bucket_type=T.StringType(),
        token_hash=_md5_60,
        sim_bits=60,
    ),
    "xxhash64": _HashFamily(
        seed_hash=lambda i, sh: F.xxhash64(sh, F.lit(i)),
        bucket=F.xxhash64,
        bucket_type=T.LongType(),
        token_hash=F.xxhash64,
        sim_bits=64,
    ),
}


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Rows per LSH band; equal, non-empty bands or ``ValueError`` (an
    empty band's bucket is ``""`` for every document, which pairs the
    whole corpus)."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"LSH banding with {bands} bands needs num_hashes divisible "
            f"by bands; got num_hashes={num_hashes} — pick bands >= 1 "
            f"that divides {num_hashes}"
        )
    return num_hashes // bands


def _minhash_plan(
    engine: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    id_col: str = "doc_id",
) -> tuple:
    """The Column trees :func:`_minhash_sigs` applies, built once so a
    foreachBatch caller reuses them across micro-batches (guide §7.3):
    each of the ``num_hashes`` seed trees converts through py4j at
    construction. Columns are immutable session-independent parse
    trees, so reuse is free and exact."""
    h = _FAMILIES[engine].seed_hash
    ex_cols = (
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(ngrams_col(tokenize_col(text_col), shingle_n))
        ).alias("_sh"),
    )
    hash_cols = [h(i, F.col("_sh")).alias(f"_h{i}") for i in range(num_hashes)]
    min_aggs = [F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    sig_col = F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig")
    return ex_cols, hash_cols, min_aggs, sig_col


def _minhash_sigs(docs: DataFrame, plan: tuple) -> DataFrame:
    """Corpus → ``[_id, sig: array<bigint>]`` via explode + per-seed
    MIN aggregation over a :func:`_minhash_plan`.

    Each distinct shingle is materialized once and hashed
    ``num_hashes`` times in one projection (a per-row column form
    re-evaluates the shingle array per seed — Catalyst performs no CSE
    across projection elements, measured 80×+ slower), then
    min-aggregated. Map-side partial aggregation means the shuffle
    carries num_hashes longs per document — at 100 TB corpus scale the
    wire cost is signatures, not shingles. Partitioning is the
    caller's: batch callers rebalance first, the incremental replay
    decides once per run."""
    ex_cols, hash_cols, min_aggs, sig_col = plan
    mins = (
        docs.select(*ex_cols)
        .select("_id", *hash_cols)
        .groupBy("_id")
        .agg(*min_aggs)
    )
    return mins.select("_id", sig_col)


def _row_minhash(engine: str, shingles: F.Column, num_hashes: int) -> F.Column:
    """The :func:`_minhash_sigs` signature as a stateless per-row column
    over a DISTINCT shingle array — for stream sides, where an
    aggregation would make the stream-static join stateful."""
    h = _FAMILIES[engine].seed_hash

    def seed(i: int):
        # factory, not a default-arg lambda: PySpark dispatches HOF
        # lambdas on arity (a 2-param lambda would get the array index)
        return lambda t: h(i, t)

    return F.array(
        *[
            F.array_min(F.transform(shingles, seed(i)))
            for i in range(num_hashes)
        ]
    )


def _band_col(
    engine: str, bands: int, rows: int, sig: str = "sig"
) -> F.Column:
    """The exploded ``bb`` (band, bucket) struct column over signature
    column ``sig``: band b's key is its ``rows`` values joined as a
    string, through the family's ``bucket``."""
    bucket = _FAMILIES[engine].bucket
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    bucket(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(sig, b * rows + r + 1)
                                for r in range(rows)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bb")


def _banded(sigs: DataFrame, bb: F.Column, *keep: str) -> DataFrame:
    """``[*keep, band, bucket]``: one row per (signature, band) for the
    :func:`_band_col` column ``bb``."""
    return sigs.select(*keep, bb).select(*keep, "bb.band", "bb.bucket")


def _agreement(a: str, b: str) -> F.Column:
    """Number of positions where two MinHash signatures agree."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))


def _band_pairs(banded: DataFrame, sigs: DataFrame) -> DataFrame:
    """``[b, a, _siga, _sigb]``: every pair (a < b) sharing a (band,
    bucket), once, with both signatures.

    SLIM banding (guide §2.3 / §8 — r13): pair on (band, bucket, id)
    rows (~24 B each), THEN rejoin the signature table once per
    endpoint. Carrying the full signature through the bucket exchange
    and the (a, b) dedup cost ~9× the shuffled bytes for the same pair
    set (plan diff in plans/r13/dedup_minhash_lsh_fast_{before,
    after}.txt)."""
    left = banded.select("band", "bucket", F.col("_id").alias("a"))
    right = banded.select("band", "bucket", F.col("_id").alias("b"))
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
        .join(
            sigs.select(F.col("_id").alias("a"), F.col("sig").alias("_siga")),
            "a",
        )
        .join(
            sigs.select(F.col("_id").alias("b"), F.col("sig").alias("_sigb")),
            "b",
        )
    )


def _minhash_lsh(
    engine: str,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
    collapse_exact: bool,
) -> DataFrame:
    """The MinHash + LSH skeleton behind :func:`minhash_lsh_pairs` and
    :func:`minhash_lsh_pairs_portable`: collapse → signatures → band
    self-join → slim pairs → signature rejoin → agreement."""
    rows = _rows_per_band(num_hashes, bands)
    if collapse_exact and (
        # with a group cap the guard semantics REQUIRE the collapsed
        # path (see minhash_lsh_pairs) — only clone-light-skip when
        # output identity is proven
        max_bucket_size is not None or not _clone_light(docs, text_col)
    ):
        canon_docs, members = _collapse_docs(
            docs, id_col, text_col, min_tokens=shingle_n,
            max_group=max_bucket_size,
        )
        raw = _minhash_lsh(
            engine, canon_docs, id_col, text_col, shingle_n, num_hashes,
            bands, max_bucket_size, collapse_exact=False,
        )
        return _expand_pairs(raw, members, {"est_jaccard": F.lit(1.0)})
    from vspace_spark.operators.scale import (
        est_relation_bytes,
        persist_shared,
        rebalance_for_compute,
    )

    # compact (num_hashes longs per doc) and consumed by both sides of
    # the bucket self-join and the rejoin — persist so hashing runs
    # once; level by the shared policy sized rows × signature width
    # (exact when docs is a bare scan; source-bytes upper bound
    # otherwise)
    sigs = persist_shared(
        _minhash_sigs(
            rebalance_for_compute(docs),
            _minhash_plan(engine, text_col, shingle_n, num_hashes, id_col),
        ),
        est_relation_bytes(docs, row_bytes=8 * num_hashes + 32),
    )
    banded = _banded(sigs, _band_col(engine, bands, rows), "_id")
    if max_bucket_size is not None:
        banded = drop_hot_buckets(banded, ["band", "bucket"], max_bucket_size)
    return _band_pairs(banded, sigs).select(
        "a",
        "b",
        (_agreement("_siga", "_sigb") / F.lit(num_hashes)).alias(
            "est_jaccard"
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash + LSH candidate pairs — the sub-quadratic near-dup path,
    on the ``xxhash64`` family (the production lane; its
    oracle-checked definition is :func:`minhash_lsh_pairs_portable`).

    shingle → signature (num_hashes mins) → split into ``bands`` bands
    of ``num_hashes/bands`` rows → hash each band → explode → groupBy
    (band, band_hash) buckets → pairs within buckets. Two docs collide
    iff some band matches exactly; P(candidate) ≈ 1-(1-J^r)^b. A pair
    sharing several bands is emitted once (distinct). ``bands`` must
    divide ``num_hashes`` (``ValueError`` otherwise).

    ``collapse_exact`` (default) runs the exact-dedup prepass first
    (see :func:`shingle_pairs_jaccard`): identical texts have
    identical signatures, so clone groups collapse to one canonical
    before banding and expand back afterwards with est_jaccard 1.0 —
    output-identical while a k-clone cluster costs k² only in OUTPUT
    rows, never in bucket-join rows. With ``max_bucket_size`` the
    guard semantics intentionally CHANGE under collapse: the cap
    applies at two different granularities. The collapsed path drops
    over-cap clone GROUPS outright and counts bucket occupancy over
    CANONICALS; the raw path counts occupancy over all docs (clones
    included), so it can also drop pairs among other docs that merely
    share a hot clone-contaminated bucket, and can drop
    clone-vs-near-dup pairs when the group is under cap but a bucket
    is over. The canonical-level accounting is the one you want at
    scale (the guard fires only on genuinely-distinct near-identical
    crowds, not on bucket contamination by verbatim clones), but the
    two paths are NOT pair-for-pair identical when both
    ``max_bucket_size`` and ``collapse_exact`` are set —
    tests/test_dedup.py documents the divergence on a planted
    fixture. Without ``max_bucket_size`` the paths are
    output-identical (equality-tested).

    Everything before the bucket self-join is narrow (no shuffle); the
    join shuffles on (band, hash) — at 100 TB, bucket sizes stay small
    because a hot bucket means genuinely near-identical docs.

    Returns ``[a, b, est_jaccard]`` (signature agreement fraction,
    a cheap estimate computed from the two signatures — no text rejoin).
    """
    return _minhash_lsh(
        "xxhash64", docs, id_col, text_col, shingle_n, num_hashes, bands,
        max_bucket_size, collapse_exact,
    )


def minhash_lsh_pairs_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash + LSH with PORTABLE hashing: md5-derived 60-bit ints
    instead of ``xxhash64`` and the band's values joined as a string
    for the bucket key (no second-level hash), so an ANSI-SQL engine
    reproduces every signature and bucket bit-for-bit and the whole
    operator sits under the value-hash oracle gate
    (``dedup_minhash_lsh``). Trades ~2× hash cost for cross-engine
    verifiability; otherwise the same skeleton, guard and
    ``collapse_exact`` semantics as :func:`minhash_lsh_pairs`.
    Returns ``[a, b, est_jaccard]``.
    """
    return _minhash_lsh(
        "portable", docs, id_col, text_col, shingle_n, num_hashes, bands,
        max_bucket_size, collapse_exact,
    )


def _simhash_sigs(
    engine: str, docs: DataFrame, id_col: str, tokens: F.Column
) -> DataFrame:
    """Corpus → ``[_id, sig: bigint]`` SimHash: each distinct token's
    family bit pattern votes +1/-1 per bit (``sim_bits`` SUM
    aggregates, map-side combined) and each bit's sign becomes the
    signature bit; bit 63 is the sign bit of the bigint."""
    from vspace_spark.operators.scale import rebalance_for_compute

    fam = _FAMILIES[engine]
    ex = rebalance_for_compute(docs).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens)).alias("_t"),
    ).select("_id", fam.token_hash(F.col("_t")).alias("_h"))
    votes = ex.groupBy("_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("_h", j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"_v{j}")
            for j in range(fam.sim_bits)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for j in range(fam.sim_bits):
        bit = (
            F.when(F.col(f"_v{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            if j < 63
            else F.when(F.col(f"_v{j}") > 0, F.lit(-(2**63))).otherwise(F.lit(0))
        )
        sig = sig + bit
    return votes.select("_id", sig.alias("sig"))


def simhash_signatures(
    docs: DataFrame, id_col: str, tokens: F.Column
) -> DataFrame:
    """Corpus → ``[_id, sig: bigint]`` 64-bit ``xxhash64`` SimHash via
    explode + vote aggregation: one hash per distinct token, 64 SUM
    aggregates, map-side combined."""
    return _simhash_sigs("xxhash64", docs, id_col, tokens)


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_pairs(
    engine: str,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    n_chunks: int,
    max_bucket_size: int | None,
    collapse_exact: bool,
) -> DataFrame:
    """The SimHash pigeonhole skeleton behind :func:`simhash_near_pairs`
    and :func:`simhash_near_pairs_portable`: the family's ``sim_bits``
    signature splits into ``n_chunks`` equal chunks, the (chunk, value)
    self-join enumerates candidates, exact Hamming filters them."""
    if max_hamming >= n_chunks:
        raise ValueError(
            f"pigeonhole blocking with {n_chunks} chunks guarantees recall "
            f"only for hamming <= {n_chunks - 1}; got max_hamming="
            f"{max_hamming} — raise n_chunks to at least {max_hamming + 1}"
        )
    if collapse_exact and (
        max_bucket_size is not None or not _clone_light(docs, text_col)
    ):
        canon_docs, members = _collapse_docs(
            docs, id_col, text_col, min_tokens=1,
            max_group=max_bucket_size,
        )
        raw = _simhash_pairs(
            engine, canon_docs, id_col, text_col, max_hamming, n_chunks,
            max_bucket_size, collapse_exact=False,
        )
        return _expand_pairs(raw, members, {"hamming": F.lit(0)})
    width = _FAMILIES[engine].sim_bits // n_chunks
    from vspace_spark.operators.scale import (
        est_relation_bytes,
        persist_shared,
    )

    # one 64-bit signature per doc — rows × 40 B, tiny next to the
    # corpus, so the shared policy keeps it on-heap at any real scale
    sigs = persist_shared(
        _simhash_sigs(engine, docs, id_col, tokenize_col(text_col)),
        est_relation_bytes(docs, row_bytes=40),
    )
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned("sig", c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for c in range(n_chunks)
        ]
    )
    blocked = sigs.select(
        "_id", "sig", F.explode(chunks).alias("ck")
    ).select("_id", "sig", "ck.chunk", "ck.val")
    if max_bucket_size is not None:
        blocked = drop_hot_buckets(blocked, ["chunk", "val"], max_bucket_size)
    left = blocked.select(
        "chunk", "val", F.col("_id").alias("a"), F.col("sig").alias("_sa")
    )
    right = blocked.select(
        "chunk", "val", F.col("_id").alias("b"), F.col("sig").alias("_sb")
    )
    return (
        left.join(right, ["chunk", "val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming64(F.col("_sa"), F.col("_sb")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    n_chunks: int = 8,
    max_bucket_size: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs with PIGEONHOLE chunk blocking on the
    64-bit ``xxhash64`` signature (the production lane; its
    oracle-checked definition is :func:`simhash_near_pairs_portable`):
    the signature splits into ``n_chunks`` equal chunks; a pair within
    Hamming distance < n_chunks must agree exactly on ≥1 chunk, so
    joining on (chunk_index, chunk_value) enumerates ALL such pairs —
    guaranteed recall for ham ≤ n_chunks - 1, no cross join. Exact
    Hamming then filters to ``max_hamming``.

    Candidate volume scales with 2^(64/n_chunks) bucket granularity;
    8×8-bit chunks is the standard sweet spot (Manku et al.'s simhash
    dedup uses the same pigeonhole construction). ``collapse_exact``
    is the same output-identical exact-dedup prepass as
    :func:`minhash_lsh_pairs` (identical texts ⇒ identical
    signatures ⇒ hamming 0, always within radius).
    """
    return _simhash_pairs(
        "xxhash64", docs, id_col, text_col, max_hamming, n_chunks,
        max_bucket_size, collapse_exact,
    )


def simhash_near_pairs_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 5,
    n_chunks: int = 6,
    max_bucket_size: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs with PORTABLE hashing: md5-derived
    60-bit token patterns (15 hex chars → always-positive BIGINT, so
    no sign-bit case) instead of ``xxhash64``, making every vote,
    signature, chunk key, and Hamming distance reproducible in ANSI
    SQL — the whole operator sits under the value-hash oracle gate
    (``dedup_simhash``). Same pigeonhole skeleton as
    :func:`simhash_near_pairs` over 60 bits: ``n_chunks`` equal chunks
    guarantee recall for Hamming ≤ n_chunks - 1 (6 × 10-bit chunks →
    radius 5).
    """
    return _simhash_pairs(
        "portable", docs, id_col, text_col, max_hamming, n_chunks,
        max_bucket_size, collapse_exact,
    )


def _nonzero_norm(vec: F.Column) -> F.Column:
    """Σx² > 0 over ``vec``, FALSE (never NULL) for a NULL vector or
    element: the collapse domain of the embedding dedups. A zero or
    NULL vector's cosine is NaN or NULL, so it never pairs, and
    collapsing such vectors would drop clones."""
    sq = F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return F.coalesce(sq > 0, F.lit(False))


def embedding_near_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
    collapse_exact: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (label,
    cluster id from LSH/IVF, etc.). The block join bounds pair counts;
    an unblocked variant at scale would first LSH-bucket the vectors
    (see operators/similarity.py).

    ``collapse_exact``: the exact-dedup prepass, vector edition —
    verbatim-identical vectors collapse per (block, md5(json(vec)))
    before the within-block pair join and expand back afterwards.
    Output-identical for thresholds < 0.999: a nonzero vector's self-
    cosine computes within one ulp of 1.0 (≥ any such threshold), and
    zero-norm vectors — whose raw cosine is NaN and never passes the
    filter — are excluded from the collapse entirely. At the
    100×-replica bench the raw within-label join is 10⁴× the base
    pair count in cosine FOLDS; collapsed, the fold count stays at
    base scale and the 10⁴× lives only in the expanded id list."""
    block = [block_col] if block_col else []
    if (
        collapse_exact
        and threshold < 0.999
        and not _clone_light(embeddings, F.col(vec_col))
    ):
        canon_vecs, members = _collapse_by_key(
            embeddings.filter(_nonzero_norm(F.col(vec_col))),
            id_col,
            [vec_col],
            F.md5(F.to_json(F.struct(F.col(vec_col)))),
            block=block,
        )
        raw = embedding_near_pairs(
            canon_vecs, id_col, vec_col, block_col, threshold,
            collapse_exact=False,
        )
        return _expand_pairs(raw, members, {})
    # Per-vector L2 norm computed once per SIDE ROW, not per joined
    # pair: cosine_from_norms is bit-identical to cosine_similarity
    # (oracle-pinned via dedup_embedding_cosine).
    left = embeddings.select(
        *block,
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("_va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    right = embeddings.select(
        *[F.col(c).alias(f"_r_{c}") for c in block],
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    cond = F.col("a") < F.col("b")
    for c in block:
        cond = cond & (F.col(c) == F.col(f"_r_{c}"))
    return (
        left.join(right, cond)
        .select(
            "a",
            "b",
            cosine_from_norms(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a", "b")
    )


def semantic_dedup(
    embeddings: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    collapse_exact: bool = True,
    engine: str = "fold",
    coarse: "tuple[list[list[float]], list[int]] | None" = None,
    coarse_nprobe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then prune
    near-duplicates WITHIN each cluster only — the cluster assignment
    is the blocking key that keeps the pairwise pass linear in corpus
    size instead of quadratic.

    Mechanics: (1) every vector assigns to its nearest centroid
    (broadcast argmin — the same deterministic (dist, cell) struct
    sort as the fixed-codebook IVF, operators/similarity.py);
    (2) within a cell, pairs with cosine ≥ ``threshold`` mark the
    LARGER id a duplicate of the smallest qualifying smaller id —
    greedy first-writer-wins, the deterministic stand-in for the
    paper's keep-one-per-group policy; (3) output is one row per
    vector: ``[vec_id, cell, kept, duplicate_of]`` (no float columns,
    so the whole operator sits under the exact value-hash gate).

    Scale: K must grow with the corpus (the paper uses 50k clusters
    for LAION-scale data) so per-cell membership — and the cell-
    blocked self-join's quadratic term — stays bounded: cost is
    Σ|cell|², linear in N at fixed cell size. The join shuffles on
    the cell id; with the corpus written bucketed by cell the probe
    side is exchange-free. The fold engine's per-row work is
    interpreted: one ``sq_dist`` fold per center in
    :func:`~vspace_spark.operators.similarity.nearest_cells`, which
    grows with K, and one cosine fold per pair. ``engine="arrow"``
    below is the production twin: numpy cell assignment and one Gram
    matmul per cell.

    ``collapse_exact`` (default, probe-gated like the rest of the
    family): verbatim-identical NONZERO vectors collapse per
    md5(json(vec)) before assignment, the core runs on canonicals
    (plus zero-norm vectors, whose cosine is NULL and who therefore
    never pair — collapsing them would wrongly mark clones dropped),
    and members expand back EXACTLY: a clone member always shares its
    canonical's cell (identical vector ⇒ identical distances ⇒ same
    argmin), is always dropped (its canonical is a smaller qualifying
    neighbor at cosine 1), and its duplicate_of has a closed form —
    the canonical's own duplicate_of when the canonical dropped
    (qualifying(c) elements are all < c < member, so the min carries
    over), else the canonical id (c is then the smallest qualifying
    neighbor: every other qualifying id exceeds c). Other vectors'
    rows are untouched: a min-qualifying neighbor can never be a
    non-canonical member because its canonical is smaller and
    qualifies identically. Output-identical to the raw path
    (planted-fixture equality test); a clone group of k costs k only
    in output rows instead of k² in cosine folds.

    ``engine``: ``"fold"`` (default) scores with the exact
    left-to-right column-expression folds the DuckDB oracle mirrors
    bit-for-bit — the oracle-checked path. ``"arrow"`` assigns cells
    with one numpy matmul per Arrow batch and scores each cell with
    one Gram matmul in ``applyInPandas`` — the production hot path
    (the interpreted folds are the measured floor, PERF.md round 6);
    rows-only by design, since BLAS summation order can flip
    near-ties at the threshold or between equidistant centroids. The
    collapse prepass and expansion are shared by both engines.
    NOTE (arrow): each cell's vectors materialize in one Python
    worker — bounded by K ∝ N keeping cell sizes fixed, the same
    contract the fold path's Σ|cell|² cost already requires. The
    arrow engine also requires an INTEGRAL ``id_col`` (ids round-trip
    through an int64 pandas column); non-integral ids raise up front —
    use the fold engine for string/decimal ids.

    Cache lifetime: both engines persist an intermediate
    (``assigned`` on the fold path, the collapsed ``core`` otherwise)
    that backs the RETURNED DataFrame's lineage, so it cannot be
    unpersisted here. The blocks are MEMORY_AND_DISK and evict under
    pressure, but a long-lived session invoking this repeatedly (e.g.
    foreachBatch) accretes them — callers that hold results across
    invocations should checkpoint/write the result and
    ``spark.catalog.clearCache()`` between batches (the pattern
    streaming/incremental.py uses via localCheckpoint).
    """
    from vspace_spark.operators.similarity import (
        _require_integral_ids,
        nearest_cells,
    )

    # ALL engine/coarse compatibility checks run BEFORE any Spark work
    # (ADVICE r8: an invalid engine='fold' + coarse combination used to
    # run the _clone_light probe and build the whole collapse plan
    # before the recursive call finally raised)
    if engine not in ("fold", "arrow"):
        raise ValueError(f"unknown engine: {engine}")
    if engine == "arrow":
        _require_integral_ids(
            "semantic_dedup(engine='arrow')", id_col, embeddings=embeddings
        )
    if coarse is not None:
        if engine != "arrow":
            raise ValueError(
                "coarse (two-level) assignment is arrow-engine only"
            )
        # user-suppliable routing structure: a malformed one would
        # otherwise crash executor-side with an opaque numpy error
        # when a vector routes to a coarse cell owning zero fine
        # centers (sub.argmin over an empty axis) — validate
        # driver-side with actionable messages (ADVICE r8).
        # hierarchical_codebook's output satisfies all three by
        # construction.
        coarse_centers, owner = coarse
        if len(owner) != len(centers):
            raise ValueError(
                f"coarse: fine_owner has {len(owner)} entries for "
                f"{len(centers)} fine centers — one owner per center"
            )
        owners = {int(o) for o in owner}
        if not coarse_centers or any(
            o < 0 or o >= len(coarse_centers) for o in owners
        ):
            raise ValueError(
                f"coarse: owner indices must be in [0, "
                f"{len(coarse_centers)}) — got {sorted(owners)[:8]}…"
            )
        if owners != set(range(len(coarse_centers))):
            empty = sorted(set(range(len(coarse_centers))) - owners)
            raise ValueError(
                f"coarse: every coarse center must own >= 1 fine "
                f"center; centers {empty[:8]} own none (drop them — "
                f"hierarchical_codebook never emits empty cells)"
            )

    if (
        collapse_exact
        # same guard as embedding_near_pairs: a clone's self-cosine
        # computes within one ulp of 1.0, which is ≥ any threshold
        # below this bound but not provably ≥ 0.999+ thresholds
        and threshold < 0.999
        and not _clone_light(embeddings, F.col(vec_col))
    ):
        # zero/NULL vectors pass through the core uncollapsed (their
        # cosine is NULL, so they never pair; collapsing them would
        # wrongly drop clones)
        nz = _nonzero_norm(F.col(vec_col))
        canon_vecs, members = _collapse_by_key(
            embeddings.filter(nz),
            id_col,
            [vec_col],
            F.md5(F.to_json(F.struct(F.col(vec_col)))),
        )
        core_in = canon_vecs.unionByName(
            embeddings.filter(~nz).select(id_col, vec_col)
        )
        from vspace_spark.operators.scale import (
            est_relation_bytes,
            persist_shared,
        )

        # persisted: consumed twice (member expansion + the zero/NULL
        # pass-through anti-join) — unpersisted, each consumer re-runs
        # the whole md5(json) collapse chain and the in-cell join
        # (measured 100 s → see PERF.md round 6). Narrow output (id +
        # cell + kept + duplicate_of, ~64 B/row) sized by footer rows
        # when the input is a bare scan.
        core = persist_shared(
            semantic_dedup(
                core_in, centers, id_col, vec_col, threshold,
                collapse_exact=False, engine=engine, coarse=coarse,
                coarse_nprobe=coarse_nprobe,
            ),
            est_relation_bytes(embeddings, row_bytes=64),
        )
        core.count()  # bounded-collect: one scalar, forces the cache
        # expand: members join their canonical's row; non-canonical
        # members are dropped with the closed-form duplicate_of above
        expanded = members.join(
            core.withColumnRenamed(id_col, "_canon"), "_canon"
        ).select(
            F.col("_m").alias(id_col),
            "cell",
            F.when(F.col("_m") == F.col("_canon"), F.col("kept"))
            .otherwise(F.lit(False))
            .alias("kept"),
            F.when(F.col("_m") == F.col("_canon"), F.col("duplicate_of"))
            .otherwise(F.coalesce("duplicate_of", "_canon"))
            .alias("duplicate_of"),
        )
        zeros = core.join(
            members.select(F.col("_m").alias(id_col)), id_col, "left_anti"
        )
        return expanded.unionByName(zeros)

    if engine == "arrow":
        return _semantic_dedup_arrow_raw(
            embeddings, centers, id_col, vec_col, threshold, coarse,
            coarse_nprobe=coarse_nprobe,
        )

    from vspace_spark.operators.scale import (
        est_relation_bytes,
        persist_shared,
    )

    # carries the full vector column → the persisted relation is
    # embedding-corpus-sized; est = the source's decompressed bytes.
    # The vector's L2 NORM is computed HERE, once per vector: per-pair
    # norm folds (Σ|cell|² pairs × 2) were the dominant term of
    # agree_dedup_semantic_fast's fold-lane materialization
    # (scripts/semantic_gate_decompose.py), and cosine_from_norms is
    # bit-identical to cosine_similarity (oracle-pinned).
    assigned = persist_shared(
        embeddings.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            nearest_cells(F.col(vec_col), centers)[0]["cell"].alias("cell"),
            l2_norm(F.col(vec_col)).alias("_n"),
        ),
        est_relation_bytes(embeddings),
    )
    # persisted + materialized: consumed three times (both sides of
    # the in-cell self-join + the final output join) — the K-centroid
    # argmin is an interpreted fold per row, and without the cache the
    # whole upstream chain (incl. the collapse prepass when invoked
    # from the collapsed branch) re-runs per consumer; eager count
    # also gives the self-join planner honest cached sizes (same
    # rationale as the shingle index above)
    assigned.count()  # bounded-collect: one scalar, forces the cache
    left = assigned.select(
        F.col("_id").alias("a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
        "cell",
    )
    right = assigned.select(
        F.col("_id").alias("b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
        "cell",
    )
    dup_of = (
        left.join(right, "cell")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            cosine_from_norms(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
        .groupBy("b")
        .agg(F.min("a").alias("duplicate_of"))
        .withColumnRenamed("b", "_id")
    )
    return assigned.join(dup_of, "_id", "left").select(
        F.col("_id").alias(id_col),
        "cell",
        F.col("duplicate_of").isNull().alias("kept"),
        "duplicate_of",
    )


def _edit_pairs(
    docs: DataFrame,
    key,
    id_col: str,
    block: list,
    collapse_exact: bool,
    raw: Callable[[DataFrame], DataFrame],
    min_len: int | None = None,
) -> DataFrame:
    """The prologue every edit-distance generator shares: key the rows
    as ``[_id, *block, _k]``, keep the keys of at least ``min_len``
    chars when it is given and return ``raw(keyed)``'s ``[a, b, dist]``
    pairs. NULL keys never pair: the raw lanes' length predicates drop
    them, and so does the collapse's join on md5(key).

    ``collapse_exact`` (probe-gated like the family): rows with
    identical keys collapse per (block, md5(key)) before ``raw`` runs
    and expand back output-identically — cross-group pairs inherit
    their canonicals' distance (identical keys ⇒ identical DP),
    intra-group pairs are exactly 0 ≤ any budget. A clone group of k
    costs k² only in output rows, never in DP evaluations — without it
    the 100×-replica corpus (99 verbatim clones per doc) runs 100² DPs
    per base pair. Both paths see the same ``min_len`` domain, so the
    output never depends on the probe's verdict."""
    key = F.col(key) if isinstance(key, str) else key
    keyed = docs.select(F.col(id_col).alias("_id"), *block, key.alias("_k"))
    if min_len is not None:
        keyed = keyed.filter(F.length("_k") >= min_len)
    if not collapse_exact or _clone_light(docs, key):
        return raw(keyed)
    canon, members = _collapse_by_key(
        keyed, "_id", ["_k"], F.md5(F.col("_k")), block=block
    )
    return _expand_pairs(raw(canon), members, {"dist": F.lit(0)})


def _band_join(block: list, k: int, cond: F.Column):
    """``join(left, right)``: the rows of ``left`` × ``right`` (both
    ``[_id, *block, _k]``) in one block that satisfy ``cond`` and whose
    key lengths differ by at most ``k`` — a sound lower bound on edit
    distance, so rows outside the band never reach a DP. Columns
    ``[*block, a, _ka, *_r_<block>, b, _kb]``: left's id and key, then
    right's. Builds its Columns once."""
    left_cols = [*block, F.col("_id").alias("a"), F.col("_k").alias("_ka")]
    right_cols = [
        *[F.col(c).alias(f"_r_{c}") for c in block],
        F.col("_id").alias("b"),
        F.col("_k").alias("_kb"),
    ]
    on = functools.reduce(
        operator.and_,
        [F.col(c) == F.col(f"_r_{c}") for c in block],
        cond & (F.abs(F.length("_ka") - F.length("_kb")) <= k),
    )

    def join(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.select(*left_cols).join(right.select(*right_cols), on)

    return join


def _verify(k: int):
    """``verify(cand, keys)``: the candidate pairs ``[a, _ka, b]``
    (``a``'s key ``_ka`` carried along) whose keys lie within ``k``
    edits, as ``[a, b, dist]`` — ``b``'s key looked up in ``keys``
    (``[_id, _k]``-keyed), scored by the banded JVM
    ``levenshtein(_ka, _kb, k)`` (O(k·n) per pair, -1 past k). Builds
    its Columns once."""
    kb = [F.col("_id").alias("b"), F.col("_k").alias("_kb")]
    scored = [
        F.col("a"), F.col("b"), F.levenshtein("_ka", "_kb", k).alias("dist")
    ]
    within = F.col("dist") >= 0

    def verify(cand: DataFrame, keys: DataFrame) -> DataFrame:
        return cand.join(keys.select(*kb), "b").select(*scored).filter(within)

    return verify


def _grams(keyed: DataFrame, q: int, *keep: str) -> DataFrame:
    """The positional q-grams of ``keyed``'s keys ``_k`` (each at
    least q chars), one row per (key, position): ``[*keep, _len, _pos,
    _gram]``."""
    return keyed.select(
        *keep,
        F.length("_k").alias("_len"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length(_k) - {q} + 1), "
                f"i -> struct(i AS pos, substring(_k, i, {q}) AS gram))"
            )
        ).alias("_g"),
    ).select(
        *keep,
        "_len",
        F.col("_g.pos").alias("_pos"),
        F.col("_g.gram").alias("_gram"),
    )


def edit_distance_pairs(
    docs: DataFrame,
    key: F.Column,
    id_col: str = "doc_id",
    block: list[str] | tuple = ("source",),
    max_dist: int = 6,
    collapse_exact: bool = True,
) -> DataFrame:
    """Fuzzy (edit-distance) near-pairs — the entity-resolution
    primitive and the exhaustive DEFINITION the faster generators
    (:func:`qgram_edit_pairs`, :func:`passjoin_edit_pairs`) are pinned
    to by the property tests: pairs within a blocking key whose
    ``key`` expressions are within ``max_dist`` Levenshtein edits.
    Candidate bounding is layered: (1) the block equi-join (never
    O(N²) across blocks); (2) the length-band prune
    ``|len(a)−len(b)| ≤ max_dist`` (:func:`_band_join`); (3) the
    engine's banded DP ``levenshtein(l, r, threshold)`` (O(k·n) per
    pair, -1 when exceeded) instead of the full O(n²) matrix. At
    production scale the blocking key is an upstream LSH/MinHash
    bucket or qgram signature (this module), with this operator as the
    verify stage. ``collapse_exact``: see :func:`_edit_pairs`.

    Returns ``[a, b, dist]``, a < b, dist ≤ max_dist.
    """
    block = list(block)
    join = _band_join(block, max_dist, F.col("a") < F.col("b"))
    dist = F.levenshtein("_ka", "_kb", max_dist).alias("dist")

    def raw(keyed: DataFrame) -> DataFrame:
        # the threshold form returns -1 past max_dist
        pairs = join(keyed, keyed).select("a", "b", dist)
        return pairs.filter(F.col("dist") >= 0)

    return _edit_pairs(docs, key, id_col, block, collapse_exact, raw)


def qgram_edit_pairs(
    docs: DataFrame,
    key,
    id_col: str = "doc_id",
    block: list[str] | tuple = ("source",),
    q: int = 3,
    max_dist: int = 3,
    collapse_exact: bool = True,
    hot_gram_cap: int | None = None,
) -> DataFrame:
    """Edit-distance near-pairs via POSITIONAL Q-GRAM count filtering
    (Gravano et al., VLDB 2001) — the production candidate-generation
    path :func:`edit_distance_pairs` names in its docstring: instead of
    the block-exhaustive self-join, candidates come from an inverted
    q-gram index, so cost scales with gram-bucket occupancy (like the
    shingle and LSH families) rather than block size squared.

    Count-filtering bound: strings within ``max_dist`` = k edits must
    share at least ``max(|a|,|b|) − q + 1 − k·q`` positional q-grams
    matched within a position offset of k. The join counts matching
    (gram, |Δpos| ≤ k) pairs — at least the 1-1 matching the bound is
    stated over, so inflation only ADDS candidates; recall is exact.
    Pipeline: explode (pos, gram) per key → self-join on
    (block, gram) with ``|Δpos| ≤ k`` and the length band → count per
    candidate pair → keep count ≥ bound → verify with the banded JVM
    ``levenshtein(a, b, k)``. Every join conjunct on (block, gram) is
    an equi-key Catalyst extracts for the hash join; the per-pair
    count is one map-side-combined aggregation.

    RECALL DOMAIN: the bound is vacuous (≤ 0) for short strings — the
    guarantee covers pairs with ``max(|a|,|b|) ≥ q·(k+1)`` (then the
    length band forces both sides ≥ q, so grams exist). Keys shorter
    than that may be missed; use :func:`edit_distance_pairs` (block-
    exhaustive) where short keys matter. Defaults q=3, k=3 need
    12-char keys.

    100 TB shape: the gram join shuffles on (block, gram); hot grams
    (shared prefixes) inflate candidates but the count threshold (e.g.
    21 of 30 grams for 32-char keys at q=3, k=3) prunes to near-dups
    before any DP runs, and AQE handles residual bucket skew. The
    exact-collapse prepass (:func:`_edit_pairs`) absorbs verbatim
    clone groups first; keys shorter than q are dropped on both paths.

    ``hot_gram_cap`` — RECALL-SAFE skew guard for Zipfian gram
    frequencies (real text: a handful of grams cover a large key
    fraction and their (block, gram) buckets go occupancy²). When
    set, grams whose per-(block, gram) row occupancy exceeds the cap
    are dropped from the inverted index, and the keys CONTAINING an
    over-cap gram ("hot keys") are additionally paired hot×hot within
    the block by the PassJoin segment lane (:func:`_segment_pairs`),
    which needs no count bound at all. Soundness (unlike naive gram
    dropping, which lowers match counts below the count-filter
    bound): a cold key by definition contains only under-cap grams,
    so for any pair with at least one cold member EVERY matching gram
    occurs in the cold key and is therefore under-cap — the restricted
    index computes that pair's match count EXACTLY, and the bound
    applies unchanged. The only pairs whose count could be
    undercounted are hot×hot, and those are produced exclusively by
    the segment lane (the index path filters them out, so the union
    is disjoint). Cost: one extra map-side-combined occupancy agg plus
    the segment lane over |H| hot keys, with |H| controlled by the
    cap; the index join's worst bucket drops from occ(hottest gram)²
    to cap². WHEN TO ENABLE (measured, PERF.md round 8): with the
    segment hot lane the guard wins BOTH measured skew regimes — 1.5×
    at H=25%/8 hot grams (boilerplate) and 2.1–2.5× in the
    language-core Zipf regime (×100–556 join-work reduction; at
    cluster scale the unguarded hot bucket is additionally a
    single-straggler shuffle partition). It stays opt-in because on
    flat-occupancy corpora (no over-cap grams) the occupancy agg is
    pure overhead; probe first — one occupancy agg gives
    work_all/work_capped (scripts/qgram_skew_bench.py prints it) — and
    enable when over-cap buckets exist. Use small k (the segment probe
    emits O(k²) substring rows per hot key). Planted-skew identity
    test: tests/test_dedup.py; measured numbers: PERF.md round 8.

    Returns ``[a, b, dist]``, a < b, dist ≤ max_dist.
    """
    k = max_dist
    block = list(block)
    verify = _verify(k)
    ka = [F.col("_id").alias("a"), F.col("_k").alias("_ka")]

    def raw(keyed: DataFrame) -> DataFrame:
        grams = _grams(keyed, q, "_id", *block)
        if hot_gram_cap is not None:
            occ = grams.groupBy(*block, "_gram").agg(
                F.count(F.lit(1)).alias("_occ")
            )
            marked = grams.join(occ, [*block, "_gram"])
            hot_ids = (
                marked.filter(F.col("_occ") > hot_gram_cap)
                .select("_id")
                .distinct()
            )
            grams = marked.filter(F.col("_occ") <= hot_gram_cap).drop("_occ")
        left = grams.select(
            *block,
            F.col("_id").alias("a"),
            F.col("_len").alias("_la"),
            F.col("_pos").alias("_pa"),
            "_gram",
        )
        right = grams.select(
            *[F.col(c).alias(f"_r_{c}") for c in block],
            F.col("_id").alias("b"),
            F.col("_len").alias("_lb"),
            F.col("_pos").alias("_pb"),
            F.col("_gram").alias("_gramr"),
        )
        cond = functools.reduce(
            operator.and_,
            [F.col(c) == F.col(f"_r_{c}") for c in block],
            (F.col("_gram") == F.col("_gramr"))
            & (F.col("a") < F.col("b"))
            & (F.abs(F.col("_pa") - F.col("_pb")) <= k)
            & (F.abs(F.col("_la") - F.col("_lb")) <= k),
        )
        cand = (
            left.join(right, cond)
            .groupBy("a", "b")
            .agg(
                F.count(F.lit(1)).alias("_m"),
                F.first("_la").alias("_la"),
                F.first("_lb").alias("_lb"),
            )
            .filter(
                F.col("_m")
                >= F.greatest("_la", "_lb") - F.lit(q - 1) - F.lit(k * q)
            )
        )
        if hot_gram_cap is not None:
            # hot×hot pairs belong to the segment lane exclusively:
            # filter them from the index path so the union is disjoint
            # (an undercounted hot×hot candidate may or may not survive
            # the count filter; either way it must not double-emit)
            for side in ("a", "b"):
                flag = hot_ids.select(
                    F.col("_id").alias(side), F.lit(True).alias(f"_hot_{side}")
                )
                cand = cand.join(flag, side, "left")
            cand = cand.filter(
                F.col("_hot_a").isNull() | F.col("_hot_b").isNull()
            )
        verified = verify(cand.join(keyed.select(*ka), "a"), keyed)
        if hot_gram_cap is None:
            return verified
        hot_keyed = keyed.join(hot_ids, "_id")
        index_rows, pairs = _segment_pairs(block, k)
        return verified.unionByName(
            pairs(hot_keyed, index_rows(hot_keyed), hot_keyed)
        )

    return _edit_pairs(
        docs, key, id_col, block, collapse_exact, raw, min_len=q
    )


def _segment_pairs(block: list, k: int):
    """PassJoin (Li, Deng, Feng, ICDE 2011) over keys ``[_id, *block,
    _k]`` within ``k`` edits: returns ``(index_rows, pairs)``, with
    every Column built here, once. The one place that knows how
    PassJoin pairs are generated: batch :func:`passjoin_edit_pairs`,
    :func:`qgram_edit_pairs`' hot lane and the incremental PassJoin leg
    (streaming/incremental.py) all call it.

    ``index_rows(keyed)``: the SEGMENT INDEX. Each key of length L ≥
    k+1 contributes its k+1 even segments as ``[*_r_<block>, _rid,
    _rlen, _ri, _seg]``. Pure column expressions, so the rows can be
    persisted: write them once, probe them many times.

    ``pairs(probe, index, keys)``: every pair of a ``probe`` key and a
    ``keys`` key within ``k`` edits in one block, as ``[a, b, dist]``,
    a < b, each pair once; ``index`` holds ``keys``' index rows. A
    self-join passes one key set as all three. Three steps:

    1. Candidates. Pigeonhole: ≤ k edits leave at least one of the k+1
       segments of r untouched, and it appears verbatim in s shifted
       by the net insertions/deletions before it. So each probe key s
       is cut, for every partner length Lr in [|s|−k, |s|+k] with Lr ≥
       k+1 and every segment#, into the substrings of the Lemma-3
       window, and equi-joined to the index on (block, length,
       segment#, content) — a hash join, not the nested loop a
       no-block theta join degenerates to. A partner shorter than k+1
       has no segments (the lemma gives no pruning there); by the
       length band its probe key is at most 2k chars, so a residual
       banded join of those probe keys against the short ``keys``
       covers it. One-directional PassJoin is complete, so this finds
       every qualifying partner of every probe key.
    2. Verify once: the probe side's key rides along with its
       candidates and the index side's is looked up in ``keys`` (the
       one ``keys``-sized join), scored by the banded
       ``levenshtein(a, b, k)``.
    3. Orient each pair to least/greatest and drop duplicates: a pair
       of two probe keys arrives from both sides.

    Probe fan-out is O(k²) substring rows per key (the Lemma-3 window,
    against (2k+1)²·(k+1) for a naive ±k one — use small k, the
    measured regimes run k ≤ 4); segments of length L/(k+1) are far
    more selective index keys than q-grams, which is the point.
    """
    seg_cnt = k + 1
    n, ri, i, lr = F.length("_k"), F.col("_ri"), F.col("_i"), F.col("_Lr")

    def segment(j: F.Column, length: F.Column):
        """1-based start and length of segment ``j`` of a key of
        ``length`` chars."""
        st = F.floor(j * length / seg_cnt)
        end = F.floor((j + 1) * length / seg_cnt)
        return (st + 1).cast("int"), (end - st).cast("int")

    segment_nos = F.explode(F.sequence(F.lit(0), F.lit(k)))
    index_ri = segment_nos.alias("_ri")
    index_cols = [
        *[F.col(c).alias(f"_r_{c}") for c in block],
        F.col("_id").alias("_rid"),
        n.alias("_rlen"),
        ri,
        F.substring("_k", *segment(ri, n)).alias("_seg"),
    ]
    probe_lr = F.explode(
        F.when(
            n + k >= seg_cnt,
            F.sequence(F.greatest(F.lit(seg_cnt), n - k), n + k),
        )
    ).alias("_Lr")
    probe_i = segment_nos.alias("_i")
    # multi-match-aware substring selection (Li/Deng/Feng ICDE 2011,
    # Lemma 3 — VERDICT r8 #8): the start-position window for segment
    # i against a probe of length |s| is
    #   p − st ∈ [max(−i, Δ − (k−i)), min(i, Δ + (k−i))],
    # Δ = |s| − Lr (0-indexed i), instead of the naive ±k. The
    # left/right caps encode that if segment i is the FIRST (resp.
    # LAST) untouched segment, at least i edits precede (resp. k−i
    # follow) it; the paper proves the windows stay COLLECTIVELY
    # complete — a pair missed at one (i, p) is guaranteed a match
    # inside another segment's window. Measured 3.5× row reduction at
    # k=3 on 16-char keys: 153 → 44 probe rows/key (PERF.md r9);
    # completeness pinned by the exhaustive-identity fixture and the
    # property tests.
    st, sl = segment(i, lr)
    shift = n - lr
    lo = F.greatest(F.lit(1), st + F.greatest(-i, shift - (k - i)))
    hi = F.least(n - sl + 1, st + F.least(i, shift + (k - i)))
    probe_p = F.explode(F.when(hi >= lo, F.sequence(lo, hi))).alias("_p")
    probe_cols = [
        *block,
        F.col("_id").alias("_pid"),
        F.col("_k").alias("_ka"),
        lr,
        i,
        F.substring("_k", F.col("_p"), sl).alias("_sub"),
    ]
    on = functools.reduce(
        operator.and_,
        [F.col(c) == F.col(f"_r_{c}") for c in block],
        (lr == F.col("_rlen"))
        & (i == ri)
        & (F.col("_sub") == F.col("_seg"))
        & (F.col("_pid") != F.col("_rid")),
    )
    seg_cand = [
        F.col("_pid").alias("a"), F.col("_ka"), F.col("_rid").alias("b")
    ]
    short_cand = [F.col("a"), F.col("_ka"), F.col("b")]
    residual = _band_join(block, k, F.col("a") != F.col("b"))
    probe_short, index_short = n <= 2 * k, n < seg_cnt
    verify = _verify(k)
    oriented = [
        F.least("a", "b").alias("a"),
        F.greatest("a", "b").alias("b"),
        F.col("dist"),
    ]

    def index_rows(keyed: DataFrame) -> DataFrame:
        long_keys = keyed.filter(n >= seg_cnt)
        return long_keys.select("*", index_ri).select(*index_cols)

    def pairs(probe: DataFrame, index: DataFrame, keys: DataFrame):
        subs = (
            probe.select("*", probe_lr)
            .select("*", probe_i)
            .select("*", probe_p)
            .select(*probe_cols)
        )
        short = residual(probe.filter(probe_short), keys.filter(index_short))
        cand = (
            subs.join(index, on)
            .select(*seg_cand)
            .unionByName(short.select(*short_cand))
            .distinct()
        )
        return verify(cand, keys).select(*oriented).distinct()

    return index_rows, pairs


def passjoin_edit_pairs(
    docs: DataFrame,
    key,
    id_col: str = "doc_id",
    block: list[str] | tuple = ("source",),
    max_dist: int = 3,
    collapse_exact: bool = True,
) -> DataFrame:
    """Edit-distance near-pairs with PassJoin SEGMENT indexing (Li,
    Deng, Feng, ICDE 2011) as the PRIMARY candidate generator: the
    segment self-join of :func:`_segment_pairs` (VERDICT r8 #5). Same
    output contract as :func:`edit_distance_pairs` /
    :func:`qgram_edit_pairs`: ``[a, b, dist]``, a < b, dist ≤
    ``max_dist``.

    When to choose over the q-gram count filter: corpora where even
    COLD gram buckets are dense — small alphabets or heavily templated
    keys, where per-(block, gram) occupancy ~ N/|Σ|^q makes every
    bucket a quadratic candidate source while the pigeonhole SEGMENTS
    (length L/(k+1) substrings indexed under (length, segment#,
    content)) stay selective because they are an order of magnitude
    longer than grams. Measured (PERF.md round 9,
    scripts/passjoin_bench.py): on a dense-gram fixture the segment
    generator beats the count filter on candidate volume and
    wall-clock; on ordinary text the count filter's cheaper index
    (one row per gram vs O(k²) probe rows per key) wins — both stay
    registered, pick by corpus (:func:`fuzzy_pairs_auto` does).

    Recall is EXACT at every key length (the lemma needs no minimum:
    keys under k+1 chars, where segments would be empty, pair through
    the residual banded lane), where the q-gram bound is vacuous below
    ``q·(k+1)`` chars. Shuffle shape: every join key is an equi-key
    (block, length, segment#, content) hash join; candidates verify
    with the banded ``levenshtein(a, b, k)``. ``collapse_exact``: see
    :func:`_edit_pairs` (intra-group pairs at dist 0 — the raw path
    emits them through whichever lane the key length selects).
    """
    block = list(block)
    index_rows, pairs = _segment_pairs(block, max_dist)

    def raw(keyed: DataFrame) -> DataFrame:
        return pairs(keyed, index_rows(keyed), keyed)

    return _edit_pairs(docs, key, id_col, block, collapse_exact, raw)


def gram_occupancy_probe(
    docs: DataFrame,
    key,
    block: list[str] | tuple = (),
    q: int = 3,
) -> dict:
    """The ONE-AGGREGATION occupancy probe the r8/r9 decision rules
    are stated over (PERF.md rounds 8–9): per-(block, gram) bucket
    occupancies of the q-gram inverted index, reduced to

    - ``rows``  = Σ occ   (total gram rows — index build cost),
    - ``work``  = Σ occ²  (count-filter join's candidate-row volume),
    - ``mean_occ`` = work / rows (the occupancy a RANDOM GRAM ROW
      sees — the per-key candidate multiplier; robust to corpus size
      in a way max-occupancy is not).

    Cost: one gram explode → map-side-combined count per bucket → one
    global sum/sum-of-squares; the collect is ONE row. The same probe
    answers both decision rules: ``hot_gram_cap`` (enable when capped
    work drops ≳50×) and qgram-vs-PassJoin routing
    (:func:`fuzzy_pairs_auto`). Every key counts.
    """
    key = F.col(key) if isinstance(key, str) else key
    keyed = docs.select(*block, key.alias("_k")).filter(F.length("_k") >= q)
    occ = (
        _grams(keyed, q, *block)
        .groupBy(*block, "_gram")
        .agg(F.count(F.lit(1)).alias("_occ"))
    )
    sums = occ.agg(
        F.sum("_occ").alias("rows"),
        F.sum(F.col("_occ") * F.col("_occ")).alias("work"),
    )
    # bounded-collect: one row (global sums over gram buckets)
    row = sums.collect()[0]
    rows, work = int(row["rows"] or 0), int(row["work"] or 0)
    mean_occ = work / rows if rows else 0.0
    return {"rows": rows, "work": work, "mean_occ": mean_occ}


# qgram-vs-PassJoin routing cutoff on the probe's mean_occ. Round-9/10
# placed it at the PassJoin probe constant (2k+1)(k+1)=28 from the
# cost model; the round-11 mid-band calibration (PERF.md round 11,
# scripts/passjoin_bench.py --regime mid: uniform base-36 corpora with
# mean_occ dialed by n) MEASURED the crossover instead — qgram still
# wins 1.45× at occ 48, dead-heats at 67.7, loses 1.53× at 95 and
# 2.8× at 142 — so the cutoff sits at the measured tie, not the
# modeled constant (qgram's per-candidate cost is cheaper than the
# model priced it). 72 rather than the 67.7 dead-heat itself: the
# 67.7 point was a single-rep tie and qgram is the cheaper-to-probe
# side, so the cutoff leans one step into the dead-heat band toward
# qgram — within the band either choice measured < 5% apart
# (ADVICE r11: record the reason, not just the number).
DENSE_OCC_CUTOFF = 72.0


def fuzzy_pairs_auto(
    docs: DataFrame,
    key,
    id_col: str = "doc_id",
    block: list[str] | tuple = ("source",),
    q: int = 3,
    max_dist: int = 3,
    collapse_exact: bool = True,
) -> DataFrame:
    """Edit-distance near-pairs with the candidate GENERATOR CHOSEN BY
    MEASUREMENT, not lore (VERDICT r9 #4): run
    :func:`gram_occupancy_probe` once, then route —

    - ``mean_occ < DENSE_OCC_CUTOFF`` (gram buckets genuinely cold:
      natural text, high-entropy keys) → :func:`qgram_edit_pairs`,
      whose index is cheaper to build (one row per gram vs
      (2k+1)·(k+1) probe rows per key) and whose candidate volume
      Σ occ² stays near the true-pair set;
    - ``mean_occ ≥ DENSE_OCC_CUTOFF`` (dense grams: small alphabets,
      templated ids, tiny word pools — EVERY bucket a quadratic
      candidate source, no cold grams for a skew guard to keep) →
      :func:`passjoin_edit_pairs`, whose segment keys carry an order
      of magnitude more entropy per key.

    The cutoff is the MEASURED crossover (round-11 mid-band
    calibration, PERF.md round 11): uniform base-36 corpora with
    mean_occ dialed by corpus size put the tie at occ ≈ 68 (qgram
    1.4–1.6× faster at 12/31/48, passjoin 1.5×/2.8× at 95/142, and
    1.7–15× on the r9/r10 chunk-pool corpora at occ ≥ 1880); the
    dense-gram fixture (mean_occ ≈ n/4^q) and word-pool text sit far
    ABOVE it, natural-text prefixes and random alphanumeric keys far
    BELOW. The old cost model — qgram's per-key multiplier ≈ mean_occ
    vs passjoin's constant (2k+1)·(k+1) = 28 probe rows — placed the
    cutoff at 32; measurement moved it: qgram's per-candidate work
    (one length-band count filter) is cheaper per row than passjoin's
    segment probing, so qgram carries ~2.4× more candidate volume at
    equal cost.

    Output contract: identical to both generators — ``[a, b, dist]``,
    a < b, dist ≤ ``max_dist`` — and BYTE-IDENTICAL between lanes on
    the shared exactness domain (keys with ``max(len) ≥ q·(k+1)``,
    the count-filter bound's floor; planted-fixture identity is
    asserted in tests/test_dedup.py). Callers that keep shorter keys
    must pin the domain themselves or call passjoin directly (exact
    at every length).
    """
    probe = gram_occupancy_probe(docs, key, list(block), q)
    if probe["mean_occ"] >= DENSE_OCC_CUTOFF:
        return passjoin_edit_pairs(
            docs, key, id_col=id_col, block=list(block),
            max_dist=max_dist, collapse_exact=collapse_exact,
        )
    return qgram_edit_pairs(
        docs, key, id_col=id_col, block=list(block), q=q,
        max_dist=max_dist, collapse_exact=collapse_exact,
    )


def _semantic_dedup_arrow_raw(
    embeddings: DataFrame,
    centers: list[list[float]],
    id_col: str,
    vec_col: str,
    threshold: float,
    coarse: "tuple[list[list[float]], list[int]] | None" = None,
    coarse_nprobe: int = 2,
) -> DataFrame:
    """Arrow/numpy engine for :func:`semantic_dedup`'s raw core (see
    its docstring): matmul cell assignment per Arrow batch, one Gram
    matmul per cell for the pairwise pass. The closures reference no
    module global but the shared kernels, which ship by value, so
    executor workers need no importable vspace_spark (NOTES.md seam
    #2). Assumes non-null vectors (like the other Arrow twins);
    zero-norm vectors never pair and come out kept.

    ``coarse`` = (coarse_centers Kc×D, fine_owner K ints — the coarse
    cell each fine center belongs to): two-level assignment for
    TRAINED codebooks (:func:`hierarchical_codebook`). A vector
    argmins over the Kc coarse centers, then over only the fine
    centers owned by its ``coarse_nprobe`` NEAREST coarse cells —
    N·(Kc + nprobe·K/Kc)·D flops instead of N·K·D. Single-probe
    routing flips a vector's fine cell whenever its true nearest fine
    center is owned by the SECOND-nearest coarse cluster (a boundary
    vector), and a flip can split a near-duplicate pair across cells
    — measured on the sf0.1 embeddings at nprobe=1: 12.3% cell flips
    costing 17% of the flat lane's duplicate edges; nprobe=2 recovers
    it (scripts/trained_router_recall_probe.py, PERF.md round 13).
    Exact for hierarchically-trained codebooks in the sense that
    every fine center is probed through its own coarse owner; r7
    measured that this routing is near-chance over a RANDOM fine
    codebook (no shared cluster structure), which is why the portable
    md5-codebook path stays flat and only the trained twin uses it."""
    from vspace_spark.operators.similarity import _assign_cells_arrow

    th = float(threshold)
    if int(coarse_nprobe) < 1:
        raise ValueError(f"coarse_nprobe must be >= 1, got {coarse_nprobe}")

    def cell_pairs(pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("_id").reset_index(drop=True)
        V = as_matrix(pdf["_v"])
        ids = pdf["_id"].to_numpy()
        norms = _np.sqrt((V * V).sum(1))
        nz = norms > 0
        n = len(ids)
        dup = _np.full(n, -1, dtype=_np.int64)
        if nz.any():
            Vn = _np.zeros_like(V)
            Vn[nz] = V[nz] / norms[nz, None]
            S = Vn @ Vn.T
            mask = (S >= th) & nz[:, None] & nz[None, :]
            _np.fill_diagonal(mask, False)
            for j in range(1, n):
                smaller = _np.nonzero(mask[j, :j])[0]
                if len(smaller):
                    dup[j] = ids[smaller[0]]  # ids sorted → first = min
        return _pd.DataFrame(
            {
                "_id": ids,
                "cell": pdf["cell"].astype("int32"),
                "kept": dup < 0,
                "duplicate_of": _pd.array(
                    [None if d < 0 else int(d) for d in dup],
                    dtype="Int64",
                ),
            }
        )

    assigned = _assign_cells_arrow(
        embeddings, centers, id_col, vec_col, coarse, coarse_nprobe
    )
    out = assigned.groupBy("cell").applyInPandas(
        cell_pairs, "_id long, cell int, kept boolean, duplicate_of long"
    )
    return out.select(
        F.col("_id").alias(id_col), "cell", "kept", "duplicate_of"
    )


def hierarchical_codebook(
    embeddings: DataFrame,
    k: int,
    kc: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int | None = None,
    iters: int = 8,
) -> "tuple[list[list[float]], list[list[float]], list[int]]":
    """Train a TWO-LEVEL k-means codebook for
    :func:`semantic_dedup_two_level` — the engine-specific quality
    lane the r7 fixed-codebook rejection pointed at (PERF.md round 7:
    coarse routing over a RANDOM codebook is near-chance because
    inter-center distances concentrate; both levels must share
    cluster structure, which training provides).

    Hierarchical Lloyd on a deterministic hash-chosen sample,
    driver-side numpy (bounded collect: ``sample_rows`` × D doubles —
    the trained analog of the driver-side md5 codebook the portable
    path embeds as literals). ``sample_rows`` defaults to
    ``clamp(32·k, 32768, 262144)``: the sample must SCALE WITH K or
    the codebook degenerates — measured at 2M vectors/K=4096, a fixed
    32k sample (8 points per fine center) gave a 26,617-row max cell
    (52× the 512 mean, Σ|cell|² 4.4e9 → 130 s pairwise); 131k (32 per
    center) gave max 2,984, Σ 1.29e9, 8.6 s end-to-end (PERF.md
    round 8). The 262144 cap bounds the collect at ~134 MB of 64-d
    doubles; corpora needing K > 8192 should raise it consciously:

    1. coarse: ``kc`` (default ⌈√k⌉) centers on the sample,
       kmeans++-style seeded init, ``iters`` Lloyd steps;
    2. fine: each coarse cell trains round(k·share) sub-centers on
       its own sample members (≥1 per nonempty cell; the total lands
       within per-cell rounding of ``k`` — the K ∝ N contract bounds
       cell sizes, not the exact center count).

    Every fine center belongs to exactly one coarse cell (its
    trainer), so two-level assignment (coarse argmin → argmin over
    the owner's fine centers) probes every fine center through its
    own owner — N·(Kc + K/Kc)·D flops instead of N·K·D. Empty coarse
    cells are dropped (the assign stage requires every coarse cell to
    own ≥1 fine center).

    Returns ``(fine_centers, coarse_centers, fine_owner)`` with
    ``fine_owner[j]`` = index into ``coarse_centers``.
    """
    import numpy as np

    if sample_rows is None:
        sample_rows = min(max(32768, 32 * k), 262144)
    n_est = None
    try:
        from vspace_spark.operators.scale import footer_row_count

        n_est = footer_row_count(embeddings)
    except Exception:
        pass
    if n_est is None:
        # bounded-collect: one scalar. Sizes the hash-modulus thinning
        # for non-bare-scan / in-memory inputs: an UNTHINNED bare
        # limit() takes the first partitions only, so on data
        # physically clustered by source/cluster the training sample
        # would be biased and the codebook could degenerate — exactly
        # the undersized-sample failure the docstring warns about
        # (ADVICE r8).
        n_est = embeddings.count()
    sample = embeddings.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_i"))
    if n_est is not None and n_est > sample_rows:
        # deterministic hash-modulus thinning: a narrow filtered scan,
        # no sort, no full-table shuffle — the oversample factor keeps
        # the expected take above sample_rows before the limit
        m = max(1, n_est // sample_rows)
        sample = sample.filter(F.xxhash64("_i") % m == 0)
    rows = sample.limit(sample_rows).collect()
    # bounded-collect: sample_rows × D doubles for driver-side k-means
    X = np.asarray([list(map(float, r._v)) for r in rows], dtype=np.float64)
    if not len(X):
        raise ValueError("hierarchical_codebook: empty sample")

    def lloyd(pts: "np.ndarray", n_centers: int, steps: int):
        n_centers = min(n_centers, len(pts))
        # seeded greedy init: first center = point nearest the mean,
        # rest maximize distance to chosen (kmeans++-style, det.)
        idx = [int(((pts - pts.mean(0)) ** 2).sum(1).argmin())]
        d2 = ((pts - pts[idx[0]]) ** 2).sum(1)
        for _ in range(1, n_centers):
            j = int(d2.argmax())
            idx.append(j)
            d2 = np.minimum(d2, ((pts - pts[j]) ** 2).sum(1))
        C = pts[idx].copy()
        for _ in range(steps):
            a = nearest_center(pts, C)
            for c in range(len(C)):
                mask = a == c
                if mask.any():
                    C[c] = pts[mask].mean(0)
        return C, nearest_center(pts, C)

    kc = kc or max(2, int(np.ceil(np.sqrt(k))))
    CC, ca = lloyd(X, kc, iters)
    fine: list[list[float]] = []
    owner: list[int] = []
    coarse_kept: list[list[float]] = []
    shares = [(ca == c).sum() for c in range(len(CC))]
    total = max(1, sum(shares))
    for c in range(len(CC)):
        if not shares[c]:
            continue  # empty coarse cell: dropped (owns no fine center)
        take = max(1, round(k * shares[c] / total))
        sub, _ = lloyd(X[ca == c], take, iters)
        cidx = len(coarse_kept)
        coarse_kept.append([float(x) for x in CC[c]])
        for row in sub:
            fine.append([float(x) for x in row])
            owner.append(cidx)
    return fine, coarse_kept, owner


def semantic_dedup_two_level(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    collapse_exact: bool = True,
    sample_rows: int | None = None,
    coarse_nprobe: int = 2,
) -> DataFrame:
    """:func:`semantic_dedup` with a TRAINED hierarchical codebook
    and two-level arrow assignment — the quality/scale lane for
    corpora where the flat N·K·D assignment matmul dominates
    (measured: ~100% of the arrow path's cost at 1M vectors × K=2048,
    PERF.md round 8). Same output contract ``[id, cell, kept,
    duplicate_of]`` and the same collapse prepass; rows-only by
    design (k-means centers are float-accumulation-order dependent,
    so no cross-engine oracle — like the ``_fast`` twins, its quality
    gate is the agreement test against the portable
    :func:`semantic_dedup`). Cells are the trained fine clusters:
    tighter than the portable md5 codebook's random Voronoi cells, so
    near-duplicates co-cell at least as reliably (SemDeDup's own
    construction uses trained k-means clusters, arXiv:2303.09540)."""
    fine, coarse_centers, owner = hierarchical_codebook(
        embeddings,
        k,
        id_col=id_col,
        vec_col=vec_col,
        sample_rows=sample_rows,
    )
    return semantic_dedup(
        embeddings,
        fine,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        collapse_exact=collapse_exact,
        engine="arrow",
        coarse=(coarse_centers, owner),
        coarse_nprobe=coarse_nprobe,
    )
