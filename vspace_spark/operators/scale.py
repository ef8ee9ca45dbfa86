"""Scale techniques as reusable operators: salted aggregation/joins for
skewed keys, bucketed tables for shuffle-free joins.

AQE handles *detected* skew at runtime (skewJoin splits oversized
partitions); salting is the static answer when a key's skew is known
and extreme (one token in half the corpus, one user generating half
the events) — exactly the shape a 100 TB term-statistics corpus has
(Zipfian tokens).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Parquet encodings whose pages hold dictionary INDICES, not values —
# their total_uncompressed_size says nothing about decoded width.
_DICT_ENCODINGS = frozenset({"PLAIN_DICTIONARY", "RLE_DICTIONARY"})
# Above this many input files the size estimate reads an evenly-spaced
# footer sample and scales, instead of one metadata read per file.
_EST_MAX_FOOTERS = 64
# Decoded bytes per value for fixed-width physical types (the
# dictionary-encoded case needs no sampling for these).
_FIXED_WIDTH = {
    "BOOLEAN": 1,
    "INT32": 4,
    "INT64": 8,
    "INT96": 12,
    "FLOAT": 4,
    "DOUBLE": 8,
}


def _leaf_avg_decoded_bytes(pf, leaf_path: str) -> float | None:
    """Average DECODED byte width of a string/binary parquet leaf,
    measured on the file's first ~1024 rows (one page read — the
    representativeness assumption is documented at the caller; an
    order-of-magnitude persist decision tolerates it). None when the
    leaf can't be resolved or isn't byte-array-like."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = leaf_path.split(".")
    # The WHOLE walk is guarded, not just iter_batches/struct_field:
    # an Arrow error on one exotic nested leaf (e.g. list_flatten on a
    # map-typed wrapper) would otherwise propagate into
    # _uncompressed_input_bytes's blanket `except: return None`,
    # silently disabling the entire estimate and dropping the persist
    # back to the heap-resident fallback this estimator exists to
    # avoid — returning None here degrades only THIS leaf to its
    # chunk's total_uncompressed_size fallback (ADVICE r12).
    try:
        batch = next(
            pf.iter_batches(batch_size=1024, columns=[parts[0]]), None
        )
        if batch is None or batch.num_rows == 0:
            return None
        arr = batch.column(0)
        # walk to the leaf: flatten list wrappers (their path
        # components — 'list'/'element'/'item'/'key_value' — name no
        # struct field), select struct fields by name
        for name in parts[1:]:
            while pa.types.is_list(arr.type) or pa.types.is_large_list(
                arr.type
            ):
                arr = pc.list_flatten(arr)
            if pa.types.is_struct(arr.type):
                arr = pc.struct_field(arr, name)
        while pa.types.is_list(arr.type) or pa.types.is_large_list(
            arr.type
        ):
            arr = pc.list_flatten(arr)
        if not (
            pa.types.is_string(arr.type)
            or pa.types.is_large_string(arr.type)
            or pa.types.is_binary(arr.type)
            or pa.types.is_large_binary(arr.type)
            or pa.types.is_fixed_size_binary(arr.type)
        ):
            return None
        n = len(arr) - arr.null_count
        if n <= 0:
            return None
        total = pc.sum(pc.binary_length(arr)).as_py() or 0
        return total / n
    except Exception:
        return None


def _uncompressed_input_bytes(df: DataFrame) -> int | None:
    """Driver-side estimate of a scan's DECODED size from parquet
    footers. Compressed file size is the wrong signal for
    compute-bound work, but so is the naive row-group
    ``total_byte_size``: that counts ENCODED page bytes, and a
    dictionary-encoded column's pages hold small indices regardless of
    value width — the round-12 keep_best probe measured the 100×-
    replicated bench corpus at 51.7 MB "uncompressed" vs ~160 MB
    decoded (the gap grows with replication: one clone family's text
    is one dictionary entry), which put the ×8-expanded shingle
    persist at 413 MB — just under the 512 MB DISK_ONLY floor, so it
    sat heap-resident and coupled every solo rep to old-gen aging
    (74 → 200 s ascending; flat 52–64 s once on disk — PERF.md round
    12; the corrected estimate, 1.33 GB, crosses the floor). So: per
    column chunk,
    non-dictionary chunks contribute their page bytes (plain encoding
    ≈ decoded); dictionary chunks contribute ``num_values × width``,
    where width is the physical type's fixed size or, for byte arrays,
    the average decoded width sampled from the first file's first
    ~1024 rows (cached per leaf — one extra page read per distinct
    dictionary-encoded string leaf, and a first-page sample can
    misjudge a corpus whose value widths drift file-to-file; a persist
    LEVEL decision tolerates that).

    Returns None (= unknown) for non-local / non-parquet / in-memory
    inputs.

    Footer-sweep cost is bounded for wide tables: above
    ``_EST_MAX_FOOTERS`` input files, an evenly-spaced deterministic
    sample of footers is read and the total scaled by the file count —
    at 100 TB a table has tens of thousands of files and a persist
    decision must not pay a driver-side metadata read per file (the
    per-file sweep is exact below the bound, where exactness is
    cheap).
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    scale_up = 1.0
    if len(files) > _EST_MAX_FOOTERS:
        step = len(files) / _EST_MAX_FOOTERS
        sampled = [files[int(i * step)] for i in range(_EST_MAX_FOOTERS)]
        scale_up = len(files) / len(sampled)
        files = sampled
    try:
        import pyarrow.parquet as pq

        total = 0
        leaf_avg: dict[str, float | None] = {}
        for uri in files:
            path = uri
            if path.startswith("file:"):
                path = path[len("file:"):]
                while path.startswith("//"):
                    path = path[1:]
            elif "://" in path:
                return None
            if not path.endswith(".parquet") or not os.path.isfile(path):
                return None
            pf = pq.ParquetFile(path)
            md = pf.metadata
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    col = rgm.column(ci)
                    if not _DICT_ENCODINGS.intersection(col.encodings):
                        total += col.total_uncompressed_size
                        continue
                    width = _FIXED_WIDTH.get(col.physical_type)
                    if width is not None:
                        total += col.num_values * width
                        continue
                    lp = col.path_in_schema
                    if lp not in leaf_avg:
                        leaf_avg[lp] = _leaf_avg_decoded_bytes(pf, lp)
                    avg = leaf_avg[lp]
                    total += (
                        int(col.num_values * avg)
                        if avg is not None
                        else col.total_uncompressed_size
                    )
        return int(total * scale_up)
    except Exception:
        return None


def footer_row_count(df: DataFrame) -> int | None:
    """Driver-side EXACT row count from parquet footers, or None.

    Valid only for a plain scan — ENFORCED: the analyzed plan must be
    a single Relation node (inputFiles() would still list files under
    a Filter, and the footer count would silently overcount). Footers
    store num_rows per file, so this is a metadata read, not a Spark
    job: corpus-sized query parameters (e.g. the K ∝ N semantic-dedup
    codebook) can be derived at query-construction time without
    breaking the lazy-builder contract (ADVICE r7). Falls back to
    None for non-local / non-parquet / non-bare-scan inputs — callers
    then pay the one-scalar count() job.
    """
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        lines = [ln for ln in plan.splitlines() if ln.strip()]
        if len(lines) != 1 or not lines[0].lstrip().startswith("Relation"):
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for uri in files:
            path = uri
            if path.startswith("file:"):
                path = path[len("file:"):]
                while path.startswith("//"):
                    path = path[1:]
            elif "://" in path:
                return None
            if not path.endswith(".parquet") or not os.path.isfile(path):
                return None
            total += pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return None


_DISK_PERSIST_FLOOR = 512 << 20

# Lower DISK_ONLY floor for SLIM, iteration-cycled relations (id/key
# pair tables: CC's symmetric edges and per-round labels, collapse
# member maps). The round-12 floor A/B at the 100× replica isolated
# exactly these sites (the wide shingle relation is DISK in both
# arms there): on-heap they produced sporadic 2–4× solo reps
# (104/142/200 s against a 54 s steady — old-gen GC coupling, 3
# blow-ups in 11 reps) while on disk 11 reps never exceeded 63.9 s
# and means were equal-or-better; serializing slim rows is cheap.
# WIDE relations keep the 512 MB floor: the same A/B at 10× flipped
# only the exploded shingle persist and paid +38% for the disk
# round-trip (registered [36.1, 27.6] vs floor128 [40.2, 38.0]) —
# shape, not just size, decides (PERF.md round 12).
_SLIM_DISK_FLOOR = 128 << 20

# Expected blow-up of an exploded unigram+bigram/shingle token stream
# relative to its source documents' decompressed bytes (ADVICE r9):
# every token reappears in each n-gram that covers it plus the struct/
# offset overhead of the exploded rows, so sizing the persisted TOKEN
# relation by the DOCUMENT bytes under-estimates by roughly an order
# of magnitude — a corpus just under the 512 MB floor would otherwise
# park a multi-GB token cache heap-resident.
TOKEN_STREAM_EXPANSION = 8.0


def est_relation_bytes(
    src: DataFrame,
    row_bytes: int | None = None,
    expansion: float = 1.0,
) -> int | None:
    """Best-effort DECOMPRESSED size of a relation DERIVED from
    ``src``, for :func:`persist_shared`'s policy decision.

    Two estimators, most-precise first:

    - ``row_bytes`` given and ``src`` is a bare parquet scan →
      ``footer_row_count(src) * row_bytes`` — EXACT row count from
      footers times the derived relation's known per-row width (e.g.
      a MinHash signature is ``8 * num_hashes`` bytes + id, regardless
      of how wide the source text is).
    - otherwise → ``_uncompressed_input_bytes(src) * expansion`` —
      the source's decompressed bytes scaled by the relation's
      expected blow-up (1.0 for narrower-than-source projections,
      :data:`TOKEN_STREAM_EXPANSION` for exploded token streams).

    Returns None (= unknown, persist_shared falls back to
    MEMORY_AND_DISK) when neither estimator applies.
    """
    if row_bytes is not None:
        n = footer_row_count(src)
        if n is not None:
            return n * row_bytes
    est = _uncompressed_input_bytes(src)
    if est is None:
        return None
    return int(est * expansion)


# Explicit claim that a persisted relation is vocabulary/dimension-
# sized (a per-token aggregate, a per-partition count, a query-terms
# posting list) — semantically distinct from ``None`` (= UNKNOWN): the
# persist level is the same MEMORY_AND_DISK either way, but the
# est=None audit (tests/test_scale.py, VERDICT r12 #5) treats None at
# a 100×-path call site as a policy gap while KNOWN_SMALL records a
# reviewed decision. Sites claiming it must say WHY in a comment.
KNOWN_SMALL = 0

# When set to a list by a test/probe, every persist_shared call
# appends {"caller", "est_bytes", "floor_bytes", "level"} — the
# audit trail for asserting that no scale-coupled path persists with
# an unresolved (None) size estimate.
_PERSIST_AUDIT: list[dict] | None = None


def persist_shared(
    df: DataFrame,
    est_bytes: int | None = None,
    floor_bytes: int = _DISK_PERSIST_FLOOR,
    eager: bool = False,
) -> DataFrame:
    """Persist a multiply-consumed relation with the storage level the
    aged-JVM storage×state A/B chose (PERF.md "Round 8: q21
    persist↔GC pinned") — the shared policy VERDICT r8 asked for instead
    of per-site lore:

    - ``est_bytes >= floor_bytes`` (best-effort DECOMPRESSED size of
      the relation's input, e.g. ``_uncompressed_input_bytes``) →
      ``DISK_ONLY``: cache files ride the OS page cache and keep
      multi-GB allocations off an aged old-gen. PySpark's
      MEMORY_AND_DISK is the SERIALIZED level but its byte buffers are
      still HEAP-RESIDENT — in a long-lived local JVM that couples
      every cached-relation query to GC state (q21 measured 40–79 s
      aged vs 12–21 s fresh; DISK_ONLY returned to 13–15 s).
    - smaller or unknown (``None``) → ``MEMORY_AND_DISK``: vocabulary-
      sized blocks are harmless on-heap and skip the disk round-trip.

    ``eager=True`` materializes with one count() so AQE plans the
    consumers from honest cached sizes (the mis-broadcast lesson,
    PERF.md round 4). On a real cluster with executor-managed storage
    memory either level works; the single-JVM driver is where heap
    residency bites.
    """
    from pyspark import StorageLevel

    level = (
        StorageLevel.DISK_ONLY
        if est_bytes is not None and est_bytes >= floor_bytes
        else StorageLevel.MEMORY_AND_DISK
    )
    if _PERSIST_AUDIT is not None:
        import traceback

        caller = "?"
        for fr in reversed(traceback.extract_stack()[:-1]):
            if not fr.filename.endswith("scale.py"):
                caller = f"{os.path.basename(fr.filename)}:{fr.lineno}"
                break
        _PERSIST_AUDIT.append(
            {
                "caller": caller,
                "est_bytes": est_bytes,
                "floor_bytes": floor_bytes,
                "level": str(level),
            }
        )
    out = df.persist(level)
    if eager:
        out.count()  # bounded-collect: one scalar, materializes the cache
    return out


def rebalance_for_compute(
    df: DataFrame, min_factor: int = 2, min_bytes: int = 4 << 20
) -> DataFrame:
    """Round-robin repartition a compute-bound input that the scan
    under-parallelized.

    ``spark.sql.files.maxPartitionBytes`` sizes scan partitions for
    IO-bound columnar work (128 MB default); tokenize/n-gram/signature
    operators do O(tokens) CPU work per input byte, so a mid-size
    corpus that fits in a handful of scan partitions serializes on a
    handful of cores (measured: the 10×-replica bench corpus read as
    ONE partition — term_stats 15.7 s single-task vs 1.8 s
    repartitioned on 32 cores). Trigger condition: fewer than
    defaultParallelism / ``min_factor`` input partitions — which
    bounds the shuffled volume to partitions × maxPartitionBytes,
    i.e. the shuffle is small precisely when it fires.

    ``min_bytes`` floor (VERDICT r3 #4): the repartition adds a stage
    boundary whose fixed cost (~1 s at 32 local threads) can exceed
    the serialized-CPU saving on a small input — measured at sf0.1,
    the 1.6 MB (uncompressed) corpus paid +1.0 s on
    ``dedup_jaccard_pairs`` for no win, while the 6.6 MB 10×-replica
    corpus wins 8×. Inputs whose parquet footers say less than
    ``min_bytes`` of decompressed data skip the rebalance; unknown
    sizes (in-memory inputs, remote filesystems) keep the
    partition-count behavior. At 100 TB every scan is far above the
    floor and has thousands of partitions, so this is a no-op either
    way; streaming inputs pass through untouched (their micro-batch
    partitioning is the stream's concern).
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor < target:
        est = _uncompressed_input_bytes(df)
        if est is not None and est < min_bytes:
            return df
        return df.repartition(target)
    return df


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation with an explicit salt: groupBy(keys, salt)
    pre-aggregates (splitting any hot key across ``salt_buckets``
    reducers), then the salt is dropped and partials merge.

    ``aggs`` maps output column → (input column, fn) where fn ∈
    {sum, count, min, max} (the partial-mergeable aggregates; avg =
    sum+count composed by the caller).

    Correctness is invariant to salting (sum/count/min/max are
    associative); the win is that no single reducer owns a hot key.
    """
    merge_fn = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    salted = df.withColumn(
        "_salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[
            getattr(F, fn)(col).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, merge_fn[fn])(out).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )


def salted_broadcast_left_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-proof join: broadcast the small side (replicated to every
    task), leaving the skewed side un-shuffled entirely. When the small
    side exceeds broadcast size, the classic alternative is explode-
    replicate: salt the big side, cross the small side with the salt
    range, equi-join on (key, salt) — provided here for the pattern's
    sake via ``salt_buckets``."""
    salted_big = skewed.withColumn(
        "_salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    replicated_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_big.join(replicated_small, [key, "_salt"], "left").drop(
        "_salt"
    )


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 8
) -> None:
    """Persist bucketed+sorted by join key: subsequent equi-joins /
    aggregations on ``key`` between tables bucketed the same way run
    WITHOUT an exchange — the physical layout pre-pays the shuffle
    once. The 100 TB pattern for repeatedly-joined fact tables."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def morton_key(x, y) -> "F.Column":
    """Z-order (Morton) key: bit-interleave two non-negative 32-bit
    integer columns into one BIGINT whose range order is a space-
    filling curve over (x, y) — rows close in BOTH dimensions land
    close in the sort, so range-partitioned parquet gets min/max
    row-group pruning on EITHER column, where a lexicographic
    (x, y) sort prunes only the leading one.

    The interleave is the classic 5-step bit spread — pure integer
    shifts and masks, exact and engine-portable (the DuckDB oracle
    mirrors it with ``<< | &``). Inputs are reduced into [0, 2³²)
    HERE via pmod (ADVICE r3: relying on callers to normalize let an
    id ≥ 2³² corrupt the interleave through spread-step bit
    collisions, and a y ≥ 2³¹ set the BIGINT sign bit, inverting the
    curve order). pmod keeps negatives in-range too; oracles mirror
    it as ``((c % 2^32) + 2^32) % 2^32``. The wrap only affects which
    rows COLLOCATE (clustering quality for pathological ids), never
    query semantics — the key is a layout hint."""
    def spread(c):
        c = F.pmod(c.cast("long"), F.lit(1 << 32))
        for shift, mask in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
        return c

    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    return spread(cx).bitwiseOR(F.shiftleft(spread(cy), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    target_files: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered along the Z-order curve of
    (x, y): range-partition on the morton key (balanced files), sort
    within partitions (tight per-row-group min/max on both
    dimensions), drop the key. Point/range predicates on x OR y then
    skip whole files and row groups via parquet statistics — the
    data-layout lever for 100 TB scans that partitioning by one
    column can't give both query shapes. Measured in PERF.md
    "Z-order layout: measured row-group pruning on both dimensions"."""
    keyed = df.withColumn("_zk", morton_key(x, y))
    part = (
        keyed.repartitionByRange(target_files, "_zk")
        if target_files
        else keyed.repartitionByRange("_zk")
    )
    part.sortWithinPartitions("_zk").drop("_zk").write.mode(
        "overwrite"
    ).parquet(path)
