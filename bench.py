"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is forced with a count() after a write-free full execution
(collect of an agg'd result would hide exchange costs; count() runs the
whole plan). Timings include plan + execution, excluding session start.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vspace_spark.queries import QUERIES, load_all
from vspace_spark.session import get_spark

# Headline set: the flagship text pipeline + the heaviest relational /
# dedup / similarity representatives. Kept stable across rounds so
# BENCH_r{N}.json files are comparable.
HEADLINE = [
    "term_stats_ngram",
    "term_stats_by_source",
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_nation_revenue",
    "q19_disjunctive_predicates",
    "tfidf_top3_per_doc",
    "user_sessions",
    "cohort_daily_retention",
    # the xxhash64 production path — r1 benched the same workload under
    # the name dedup_minhash_lsh before the md5-portable oracle twin
    # took the primary name, so _fast keeps the series comparable
    "dedup_minhash_lsh_fast",
    "dedup_jaccard_pairs",
    "ann_bruteforce_top5",
    "doc_quality",
    "stream_hourly_counts",
    # added r3 (additive — earlier keys keep their cross-round series):
    # gram-keyed first-occurrence join, scan-speed regex chain, and the
    # double self-join TPC-H shape
    "doc_span_novelty",
    "doc_pii_scrub",
    "q21_waiting_suppliers",
    # added r3 session 2 (additive): exact-substring scrubbing, the
    # epoch shuffle (two-phase numbering), cluster canonicalization
    # (iterative CC + argmax pick), and the Arrow matmul ANN path
    "doc_span_scrub",
    "doc_training_order",
    "dedup_keep_best",
    "ann_bruteforce_top5_fast",
    # added r3 session 3 (additive): iterative weighted propagation
    # (5 joined rounds), the integer-encoded ordered-fold funnel, and
    # three chained two-phase global numberings
    "pagerank_purchase_graph",
    "funnel_conversion_window",
    "user_rfm_segments",
    # added r7 (additive): the qgram inverted-index fuzzy candidate
    # path and the arrow SemDeDup production engine (K prop N)
    "dedup_fuzzy_pairs_qgram",
    "dedup_semantic_fast",
]


def _load_1m() -> float:
    """1-min load average, 0.0 where unavailable (non-POSIX hosts /
    restricted containers) — load is advisory contention telemetry, so
    degrading to 0.0 keeps the spread trigger as the sole extra-rep
    signal instead of crashing the whole bench."""
    try:
        return os.getloadavg()[0]
    except (AttributeError, OSError):
        return 0.0


def _host_busy_jiffies() -> int | None:
    """Host-wide busy CPU jiffies (everything except idle+iowait) from
    /proc/stat's aggregate line. guest/guest_nice (fields 9/10) are
    already included in user/nice, so summing them double-counts VM
    guest time and inflates ext_cores on virtualization hosts
    (ADVICE r12) — they are excluded. None where /proc is
    unavailable."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        busy = sum(vals[:8])  # user..steal
        return busy - vals[3] - (vals[4] if len(vals) > 4 else 0)
    except (OSError, ValueError, IndexError):
        return None


def _tree_cpu_jiffies() -> int | None:
    """Cumulative CPU jiffies (utime+stime+cutime+cstime) of THIS
    process and every live descendant — the bench's python driver, the
    Spark JVM it launched, and the JVM's Python UDF workers. One /proc
    scan; None where /proc is unavailable. (getrusage(RUSAGE_CHILDREN)
    only counts reaped children, so it misses the still-running JVM
    entirely.) cutime/cstime are included so a descendant that exits
    and is reaped mid-window moves from its own direct count into an
    ancestor's cutime instead of vanishing from the tree — without
    them, CPU burned by non-reused pyspark workers counts toward
    host-busy but not our tree, overstating external contention
    (ADVICE r12). No double count: a live child's utime is not yet in
    any ancestor's cutime (cutime updates only at wait())."""
    try:
        entries = os.listdir("/proc")
    except OSError:
        return None
    ppid_of: dict[int, int] = {}
    cpu_of: dict[int, int] = {}
    for e in entries:
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as fh:
                data = fh.read()
        except OSError:
            continue
        # comm can contain spaces/parens: split after the LAST ')'
        rest = data.rpartition(") ")[2].split()
        try:
            ppid_of[int(e)] = int(rest[1])
            cpu_of[int(e)] = (
                int(rest[11]) + int(rest[12])      # utime + stime
                + int(rest[13]) + int(rest[14])    # cutime + cstime
            )
        except (ValueError, IndexError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppid_of.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        total += cpu_of.get(pid, 0)
        stack.extend(kids.get(pid, []))
    return total


def _clk_tck() -> float:
    try:
        return float(os.sysconf("SC_CLK_TCK"))
    except (AttributeError, ValueError, OSError):
        return 100.0


class _ExternalCpuMeter:
    """Per-rep EXTERNAL contention in average cores: host busy cores
    during the rep window minus the cores our own process tree used.

    The 1-min load average is backward-looking — a 0.3 s headline rep
    that runs a minute after the bench's own heavy baseline phase
    still reads that phase's load and gets flagged "contended" on a
    machine nobody else touched (the r12 dry run flagged 26/26
    headline rows this way on an otherwise-idle host). /proc/stat
    deltas over the rep's exact window have no such memory, and
    subtracting the bench's own tree CPU separates self-load from
    neighbors. None (telemetry absent) where /proc is unavailable."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.host0 = _host_busy_jiffies()
        self.tree0 = _tree_cpu_jiffies()

    def stop(self) -> float | None:
        wall = time.perf_counter() - self.t0
        host1, tree1 = _host_busy_jiffies(), _tree_cpu_jiffies()
        if None in (self.host0, self.tree0, host1, tree1) or wall <= 0:
            return None
        if tree1 < self.tree0:
            # the tree's cumulative CPU can only decrease when a
            # mid-tree process died and its children reparented to
            # init, taking their accumulated jiffies out of the
            # subtree (cutime can't catch an orphan) — subtracting a
            # NEGATIVE self-delta then reports absurd external load
            # (a quiet-host run recorded ext_cores=1239.6 on a
            # 32-core box this way). Telemetry invalid → None.
            return None
        clk = _clk_tck()
        host_cores = (host1 - self.host0) / clk / wall
        self_cores = (tree1 - self.tree0) / clk / wall
        return max(0.0, host_cores - self_cores)


def _warm_page_cache(path: str) -> int:
    """Sequentially read every byte under ``path`` so the OS page
    cache holds the dataset before a single-rep timing block. Returns
    bytes read. IO errors are ignored — warming is best-effort and
    must never fail the bench."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while True:
                        chunk = fh.read(1 << 24)
                        if not chunk:
                            break
                        total += len(chunk)
            except OSError:
                pass
    return total


def baseline_gb_per_hour(spark, sf_dir: str, target_gb: float) -> dict:
    """BASELINE.md-comparable throughput: the reference's 6-gram
    vocabulary-gated corpus-statistics pipeline on a corpus replicated
    to ``target_gb`` of text (scripts/baseline_bench.py runs it alone,
    at a chosen size). The corpus is cached in /tmp across runs; its
    materialization is untimed (the reference's clock also starts from
    on-disk input)."""
    import os as _os
    import shutil

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from vspace_spark.io.tables import load_table
    from vspace_spark.operators.stats import (
        term_stats,
        term_stats_pandas,
        unigram_dictionary,
    )

    work = "/tmp/bench_baseline_corpus"
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    stats = base.agg(
        F.count("*").alias("n"), F.sum(F.length("text")).alias("bytes")
    ).first()
    replicas = max(1, int(target_gb * 1e9 / stats.bytes))
    # cache key includes the base-corpus identity (sf tag + doc count),
    # not just the size — a corpus replicated from a DIFFERENT sf dir
    # would otherwise be silently reused
    sf_tag = _os.path.basename(sf_dir.rstrip("/"))
    corpus_path = _os.path.join(
        work, f"corpus_{sf_tag}_{stats.n}_{target_gb}gb.parquet"
    )
    # the cache flag must test the REAL cache key (the per-sf/per-
    # target corpus path), not the parent dir — a leftover corpus from
    # a different sf/target would otherwise report corpus_cache="hot"
    # while this run rmtree's and cold-materializes (ADVICE r12)
    corpus_was_cached = _os.path.exists(corpus_path)
    if not corpus_was_cached:
        shutil.rmtree(work, ignore_errors=True)
        # repartition the MB-size base BEFORE the broadcast fan-out —
        # repartitioning after replication would shuffle the full
        # corpus through the base's few input tasks (PERF.md)
        base.repartition(64).crossJoin(
            F.broadcast(
                spark.range(replicas).select(F.col("id").alias("replica"))
            )
        ).select(
            (F.col("doc_id") * replicas + F.col("replica")).alias(
                "document_index"
            ),
            "text",
            "source",
        ).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    n_docs = corpus.count()
    text_gb = n_docs / stats.n * stats.bytes / 1e9

    # min-of-2 like the headline suite: the phase runs up to 2× slower
    # inside a JVM that just executed the whole query suite (measured:
    # 27-62 s for identical work); every rep does the FULL pipeline
    # (unpersist between) so the timed work is identical.
    def run_once() -> float:
        t0 = time.perf_counter()
        vocab = (
            term_stats(base, min_n=1, max_n=2)
            .filter(F.col("document_frequency") >= 5)
            .select("token")
        )
        dictionary = unigram_dictionary(base, extra_vocab=vocab).persist()
        dictionary.count()
        by_source = term_stats_pandas(
            corpus,
            dictionary,
            id_col="document_index",
            group_cols=["source"],
            min_n=1,
            max_n=6,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        by_source.count()
        by_source.groupBy("token").agg(
            F.sum("document_frequency").alias("document_frequency"),
            F.sum("term_frequency").alias("term_frequency"),
            F.sum("tdsum").alias("tdsum"),
        ).count()
        dt = time.perf_counter() - t0
        by_source.unpersist()
        dictionary.unpersist()
        return dt

    # exact floats throughout; rounding happens only in the REPORTED
    # fields (rounding before min() both inflated gb_per_hour ~0.6%
    # and could divide by a rep rounded to 0.0 on a tiny fixture)
    rep_times, rep_loads, rep_exts = [], [], []

    def one_rep() -> None:
        meter = _ExternalCpuMeter()
        rep_times.append(run_once())
        rep_loads.append(_load_1m())
        rep_exts.append(meter.stop())

    for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))):
        one_rep()
    # adaptive extra rep on >2× spread — same shared-host rationale as
    # timed_min in main(): one neighbor burst can swallow both reps —
    # OR on high host load (r5: both reps ran under 1-min load ≈ 29 on
    # 32 cores with a 1.6× spread, so the spread trigger alone missed
    # a fully-contended phase; a third sample is cheap insurance that
    # one rep lands in a quieter window)
    spread = (
        max(rep_times) / max(min(rep_times), 1e-9)
        if len(rep_times) >= 2
        else 1.0
    )
    if spread > 2 or min(rep_loads) > (os.cpu_count() or 1) / 2:
        one_rep()
    elapsed = min(rep_times)
    rep_selected = rep_times.index(elapsed)
    return {
        "gb_per_hour": round(text_gb / (elapsed / 3600), 2),
        "corpus_gb": round(text_gb, 3),
        "elapsed_sec": round(elapsed, 1),
        # which rep state produced gb_per_hour (VERDICT r11 #8): the
        # headline number swung 3.6× round-to-round because min()
        # sometimes selects a warm-JVM/warm-cache later rep (r11:
        # reps [50.6, 9.2, 5.0] → rep 3 won). "fresh_jvm" means the
        # number is the like-for-like BASELINE.md comparison (the
        # reference runs fresh spark-submit processes); "warm_jvm"
        # means the reported peak rode accumulated JIT + page-cache
        # state — the fresh-rep throughput is reported alongside so
        # both states are always on record.
        "state": "fresh_jvm" if rep_selected == 0
        else f"warm_jvm_rep{rep_selected + 1}",
        "gb_per_hour_fresh": round(text_gb / (rep_times[0] / 3600), 2),
        # whether the replicated corpus parquet pre-existed in /tmp —
        # a cold materialization also leaves the page cache hot for
        # rep 1, so this disambiguates fresh-rep numbers across runs
        "corpus_cache": "hot" if corpus_was_cached else "cold",
        # all reps on record: the host is SHARED and contention windows
        # outlast the whole phase (r5 bisect of the r4 "regression":
        # identical 8g runs measured 6.9 s and 19.4 s minutes apart
        # while in-container CPU was idle and host load went 5→15) —
        # spread between reps is the contention signal
        "elapsed_reps": [round(t, 1) for t in rep_times],
        # 1-min load sampled at each rep's END: reps that ran under
        # heavy neighbor load are visibly suspect in the artifact
        "load_1m_reps": [round(l, 1) for l in rep_loads],
        # average EXTERNAL cores during each rep (host busy minus our
        # own process tree, /proc-exact over the rep window) — unlike
        # load_1m this can't blame the bench's own prior phases
        "ext_cores_reps": [
            None if e is None else round(e, 1) for e in rep_exts
        ],
        "reference_1gb_6gram": 6.7,
    }


# key-shift domains for the 10× scale-up: every key column shifts by
# replica * (max(parent key) + 1), keeping joins consistent (an order's
# replica joins its customer's replica) and keys globally unique.
_SCALE_KEYED = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "vecid"},
}
_SCALE_SPAN_SOURCE = {
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "eventid": ("events", "event_id"),
    "userid": ("events", "user_id"),
    "docid": ("documents", "doc_id"),
    "vecid": ("embeddings", "vec_id"),
}


def materialize_scaled_sf(spark, sf_dir: str, replicas: int = 10) -> str:
    """Replicate every table of ``sf_dir`` ``replicas``× into /tmp with
    consistent key shifts — a synthetic sf1 from sf0.1, giving per-query
    times a scale TREND (constant factors and accidental
    single-partition stages hide at one scale; a 10× point exposes
    them). Dimension tables (region/nation, fixed-size in TPC-H) copy
    unchanged; every other table's keys shift per replica so join
    fan-outs scale like real data, not like a keyspace collision.
    Cached across runs; materialization is untimed."""
    import shutil

    from pyspark.sql import functions as F

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    dest = f"/tmp/bench_scaled_{sf_tag}_x{replicas}"
    marker = os.path.join(dest, "_DONE")
    if os.path.exists(marker):
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest, exist_ok=True)
    from vspace_spark.io.tables import TABLE_NAMES, load_table

    spans = {
        dom: load_table(spark, sf_dir, tbl).agg(F.max(col)).first()[0] + 1
        for dom, (tbl, col) in _SCALE_SPAN_SOURCE.items()
    }
    rep = F.broadcast(spark.range(replicas).select(F.col("id").alias("_r")))
    for name in TABLE_NAMES:
        src = load_table(spark, sf_dir, name)
        out = os.path.join(dest, f"{name}.parquet")
        keyed = _SCALE_KEYED.get(name)
        if not keyed:
            src.write.mode("overwrite").parquet(out)
            continue
        scaled = src.crossJoin(rep)
        for col, dom in keyed.items():
            scaled = scaled.withColumn(
                col, F.col(col) + F.col("_r") * F.lit(spans[dom])
            )
        scaled.drop("_r").write.mode("overwrite").parquet(out)
    with open(marker, "w") as fh:
        fh.write(str(replicas))
    return dest


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    load_start = (_load_1m(),)  # host contention marker (see below)
    load_all()
    spark = get_spark("vspace-bench")
    # JIT/IO warmup on a trivial action so q1 doesn't pay session costs.
    spark.range(1000).count()

    # BASELINE.md-comparable pipeline FIRST, while the JVM is fresh:
    # the reference runs each job as its own spark-submit process, so
    # a fresh-heap measurement is the like-for-like one. Until round 7
    # this phase ran LAST, after the whole suite + scaled blocks, and
    # its first reps paid the session's accumulated GC/heap state
    # (measured reps [115.9, 116.3, 33.3] for identical work — the
    # same class of artifact as the 100× cold-cache one, fixed the
    # same way: measure in the state the comparison assumes).
    baseline = baseline_gb_per_hour(
        spark,
        sf_dir,
        float(os.environ.get("SPARK_GRAFT_BASELINE_GB", "0.25")),
    )

    # min over REPS runs per query: the first execution pays codegen
    # JIT + page-cache warming, and single-run wall-clock wobbles
    # ±20% with machine noise (observed r1→r2 on identical plans).
    # min isolates the plan's steady-state cost, which is the thing
    # plan changes actually move.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

    # A rep that ends with the 1-min load above this ran CONTENDED —
    # the r8→r9 driver comparison was dominated by exactly this host
    # state (load 5.1→19.4, 26/27 queries uniformly 1.1–1.5× with
    # unchanged plans), so every block now self-describes it per rep
    # (VERDICT r9 #7: the headline/10× blocks get what the baseline
    # phase and 100× block already record).
    load_flag = float(os.environ.get("SPARK_GRAFT_LOAD_FLAG", "8.0"))

    # a rep whose EXTERNAL CPU (host busy minus our own tree) averaged
    # more than this many cores ran contended by neighbors; 1/4 of the
    # box keeps parity with the old load_1m>8-of-32 rule but without
    # the 1-min EWMA's memory of the bench's own phases
    ext_flag = float(
        os.environ.get("SPARK_GRAFT_EXT_CORES_FLAG",
                       str((os.cpu_count() or 32) / 4))
    )

    def timed_min(fn, sf, detail_sink=None, name=None, steady=None):
        """min over reps, plus ONE adaptive extra rep when the spread
        exceeds 2× — on this shared host a neighbor's burst can
        swallow both standard reps (measured: identical baseline reps
        of 169.9 s and 19.0 s in one run), and a third sample cheaply
        raises the odds that at least one rep lands in a quiet
        window. Per-rep (time, end-of-rep load_1m, external cores)
        goes to ``detail_sink[name]`` so a cross-round outlier is
        self-diagnosing without a rerun.

        ``steady`` (VERDICT r12 #2) extends the 100× block's cross-run
        defense to this row: the intra-run spread trigger alone cannot
        see contention that swallows BOTH reps uniformly (BENCH_r12's
        dedup_minhash_lsh_fast recorded 5.09 s — 4.4× its r11 value —
        with a 1.0× spread and quiet ext_cores, because the CPU meter
        is blind to IO/page-cache pressure). With a quiet-host steady
        reference: min rep > 1.4× steady buys ONE retry in a hopefully
        quieter window (2× through r13 — VERDICT r13 #6: rfm at 1.36×
        and qgram at 1.23× slipped under the old trigger and read as
        regressions; the lower trigger is additions-only, it can only
        LOWER recorded minima on contended rows); a final min rep >
        1.5× steady is flagged
        ``elevated`` even when ext_cores is quiet, so the artifact
        separates plan changes from host state by itself."""
        times, loads, exts = [], [], []

        def one_rep():
            meter = _ExternalCpuMeter()
            start = time.perf_counter()
            fn(spark, sf).count()
            times.append(time.perf_counter() - start)
            loads.append(_load_1m())
            exts.append(meter.stop())

        for _ in range(reps):
            one_rep()
        if len(times) >= 2 and max(times) / max(min(times), 1e-9) > 2:
            one_rep()
        if (
            steady is not None
            and min(times) > 1.4 * steady
            and len(times) <= reps  # spread retry already spent = skip
        ):
            one_rep()
        best = min(times)
        if detail_sink is not None:
            entry = {
                "reps": [round(t, 3) for t in times],
                "load_1m": [round(l, 1) for l in loads],
                "ext_cores": [
                    None if e is None else round(e, 1) for e in exts
                ],
            }
            if steady is not None:
                entry["steady_ref"] = steady
                if best > 1.5 * steady:
                    entry["elevated"] = True
            # contention at the rep min() selected — if even the best
            # rep ran against heavy EXTERNAL cpu, the recorded number
            # is a contention ceiling, not the plan's cost. Exact
            # window measurement when /proc exists; the backward-
            # looking load rule only as a fallback.
            best_ext = exts[times.index(best)]
            if best_ext is not None:
                if best_ext > ext_flag:
                    entry["contended"] = True
            elif loads[times.index(best)] > load_flag:
                entry["contended"] = True
            detail_sink[name] = entry
        return best

    # Quiet-host steady references for the headline and 10× rows
    # (VERDICT r12 #2), derived the same way as steady_100x: a
    # dedicated quiet-host run of this file (3 reps, 100× block off,
    # ext_cores ≤ noise on the rep min() selected for every row —
    # derivation note in PERF.md round 13), values = per-query min
    # rep at sf0.1. References for the retry/flag TRIGGER, not
    # assertions — at a different SF the trigger just fires more
    # often and the annotations say why.
    steady_headline = {
        "term_stats_ngram": 2.2,
        "term_stats_by_source": 1.3,
        "q1_pricing_summary": 0.5,
        "q3_top_unshipped_orders": 1.3,
        "q5_nation_revenue": 1.1,
        "q19_disjunctive_predicates": 0.4,
        "tfidf_top3_per_doc": 1.1,
        "user_sessions": 0.5,
        "cohort_daily_retention": 0.4,
        "dedup_minhash_lsh_fast": 1.5,
        "dedup_jaccard_pairs": 1.1,
        "ann_bruteforce_top5": 0.7,
        "doc_quality": 0.3,
        "stream_hourly_counts": 1.5,
        "doc_span_novelty": 0.4,
        "doc_pii_scrub": 0.2,
        "q21_waiting_suppliers": 1.3,
        "doc_span_scrub": 0.4,
        "doc_training_order": 0.7,
        "dedup_keep_best": 3.4,
        "ann_bruteforce_top5_fast": 0.5,
        "pagerank_purchase_graph": 3.7,
        "funnel_conversion_window": 0.5,
        "user_rfm_segments": 1.6,
        "dedup_fuzzy_pairs_qgram": 1.3,
        "dedup_semantic_fast": 0.6,
    }
    steady_10x = {
        "term_stats_ngram": 1.4,
        "term_stats_by_source": 1.1,
        "q1_pricing_summary": 0.7,
        "q3_top_unshipped_orders": 2.8,
        "q5_nation_revenue": 4.4,
        "q19_disjunctive_predicates": 0.7,
        "tfidf_top3_per_doc": 3.2,
        "user_sessions": 1.1,
        "cohort_daily_retention": 0.7,
        "dedup_minhash_lsh_fast": 2.3,
        "dedup_jaccard_pairs": 2.4,
        "ann_bruteforce_top5": 3.5,
        "doc_quality": 0.2,
        "stream_hourly_counts": 1.4,
        "doc_span_novelty": 0.8,
        "doc_pii_scrub": 0.2,
        "q21_waiting_suppliers": 4.9,
        "doc_span_scrub": 0.3,
        "doc_training_order": 0.6,
        "dedup_keep_best": 18.4,
        "ann_bruteforce_top5_fast": 0.5,
        "pagerank_purchase_graph": 9.6,
        "funnel_conversion_window": 0.7,
        "user_rfm_segments": 1.2,
        "dedup_fuzzy_pairs_qgram": 2.0,
        "dedup_semantic_fast": 0.5,
    }

    timings: dict[str, float] = {}
    detail_headline: dict[str, dict] = {}
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        timings[name] = round(
            timed_min(
                fn, sf_dir, detail_headline, name,
                steady=steady_headline.get(name),
            ), 3
        )
        # queries persist intermediates and (deliberately) leave
        # unpersist to session teardown; drop them between queries so
        # each timing reflects ITS cost, not eviction thrash from the
        # previous queries' leftovers (showed up as a 47× blow-up of
        # the windowed tf-idf query in the 10× pass)
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)

    # 10×-scale pass (synthetic sf1 from sf0.1): min-of-reps like the
    # primary suite — the point is the scale TREND (a query whose time
    # grows ≫10× has a hidden constant-factor or single-partition
    # stage), and a single run corrupts that signal with cold-page-
    # cache artifacts (measured: 16.9 s first run vs 2.7 s steady for
    # the windowed tf-idf at 10×, a false 20×-for-10× alarm). Disable
    # with SPARK_GRAFT_BENCH_SCALED=0.
    timings_scaled: dict[str, float] = {}
    detail_10x: dict[str, dict] = {}
    scaled_replicas = int(os.environ.get("SPARK_GRAFT_BENCH_SCALED", "10"))
    if scaled_replicas > 1:
        scaled_dir = materialize_scaled_sf(spark, sf_dir, scaled_replicas)
        for name in HEADLINE:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            timings_scaled[name] = round(
                timed_min(
                    fn, scaled_dir, detail_10x, name,
                    steady=(
                        steady_10x.get(name)
                        if scaled_replicas == 10 else None
                    ),
                ), 3
            )
            spark.catalog.clearCache()

    # 100×-scale pass (synthetic ~sf10) for the HEAVIEST queries only
    # (VERDICT r3 #7): 10× exposed the single-partition scan and the
    # rebalance win; 100× is where a hidden constant factor or an
    # unbounded per-key structure would surface before a real cluster
    # does — it already caught the 4 GiB mis-broadcast in the shingle
    # self-join and the undersized local heap. Single rep (runs are
    # minutes — steady-state noise is small relative to signal) under
    # a wall-clock budget, CHEAPEST FIRST (the budget is checked
    # before each query starts, so expensive tails must come last);
    # anything skipped is recorded explicitly (no silent caps). The
    # dedup entries sit last for another reason too: replica scaling
    # gives every doc 99 verbatim clones, so their 100× cost is the
    # clone-cluster stress case (quadratic pair output), not pure
    # scale — measured numbers live in PERF.md. Disable with
    # SPARK_GRAFT_BENCH_100X=0.
    heavy_100x = [
        "user_sessions",
        "q3_top_unshipped_orders",
        "term_stats_ngram",
        # added r5 once the shared-relation persist took it 104→~14 s
        # (cheapest-first ordering preserved; additive, earlier keys
        # keep their cross-round series)
        "q21_waiting_suppliers",
        "tfidf_top3_per_doc",
        "user_rfm_segments",
        "dedup_jaccard_pairs",
        "dedup_keep_best",
        "ann_bruteforce_top5",
        "pagerank_purchase_graph",
    ]
    # Expected warm-cache steady states at sf0.1×100, re-derived in
    # round 12 from a quiet-host block-order run with 2 reps per query
    # (scripts/scale100_block_bench.py --mode block, PERF.md round 12)
    # — the r7/r8-era values mixed hosts and JVM states (VERDICT r11
    # #3a: pagerank's 190 predated the r10 DISK_ONLY swap and sat 2×
    # above the block-state steady, so the re-rep trigger either
    # never fired or fired spuriously). Two uses: (a) a recorded
    # number > 2× its reference triggers ONE adaptive re-rep — either
    # the retry lands in a quiet window (min recorded, both reps
    # annotated) or it confirms the number; (b) the budget check
    # reserves steady-state room for every not-yet-run query, so one
    # outlier consumes only the block's slack, never a later query's
    # slot (the r7 artifact: tfidf's 299 s outlier starved pagerank
    # entirely). Values are references for the TRIGGER, not
    # assertions — at a different SF the trigger just fires more/less
    # often and the annotations say why.
    steady_100x = {
        "user_sessions": 6.0,
        "q3_top_unshipped_orders": 6.5,
        "term_stats_ngram": 7.5,
        "q21_waiting_suppliers": 12.0,
        "tfidf_top3_per_doc": 34.0,
        "user_rfm_segments": 8.0,
        "dedup_jaccard_pairs": 32.0,
        "dedup_keep_best": 57.0,
        "ann_bruteforce_top5": 31.0,
        # fresh-JVM FIRST executions of this plan measured 2.6× the
        # block-state steady (solo reps 254.8 → 136.8 → 97.7 vs
        # in-block [97.9, 94.3]): shared-JIT warm-up, not page cache —
        # prior block queries warm it, so the block-state value is
        # the right reference here
        "pagerank_purchase_graph": 95.0,
    }
    timings_100x: dict[str, float] = {}
    detail_100x: dict[str, dict] = {}
    skipped_100x: list[str] = []
    retried_100x: list[str] = []
    # Any 100× row whose first rep exceeds this gets a MANDATORY second
    # rep (VERDICT r11 #3b): a single multi-minute sample cannot be
    # audited — the r11 block's 466 s total decomposed into unrepeated
    # one-rep outliers (pagerank 207.7 s vs its 44–61 s steady,
    # dedup_keep_best 82.1 s at 1.67× steady, UNDER the old 2× trigger
    # so never retried). Short rows keep the 2×-steady trigger only;
    # long rows always produce two samples.
    mandatory_rep_sec = 30.0
    if os.environ.get("SPARK_GRAFT_BENCH_100X", "1") != "0":
        # 1500 s (raised from the r4-era 900 in r12): the mandatory
        # second rep doubles every >30 s row, so the expected schedule
        # is ~2× the one-rep steady total — at 900 s the budget check
        # would have skipped the tail queries' guaranteed slots.
        budget = float(
            os.environ.get("SPARK_GRAFT_BENCH_100X_BUDGET", "1500")
        )
        dir_100x = materialize_scaled_sf(spark, sf_dir, 100)
        # warm the page cache ONCE (untimed, like the materialization):
        # the block is single-rep, so without this each query's number
        # is disk-cache luck, not compute — measured on an idle host,
        # pagerank at 100× ran 280.7 s with a cold cache vs 96.0 s
        # warm, and the whole r5→r6 "+49% suite regression" (441→659 s)
        # decomposed to exactly this artifact (PERF.md round 7): the
        # per-query plans were unchanged and every cross-round number
        # sat inside the cold/warm bracket of its query.
        _warm_page_cache(dir_100x)
        block_start = time.perf_counter()
        present = [n for n in heavy_100x if QUERIES.get(n) is not None]
        # Reserves are sf0.1-scale references; when the budget (or the
        # SF) makes the full steady schedule bigger than the budget,
        # scale them down so reservation degrades into ordering rather
        # than starving the EARLY queries (a 300 s budget against a
        # ~430 s schedule must not skip query 1 because of query 10).
        def expected_cost(q: str) -> float:
            # a row whose steady state exceeds the mandatory-rep bar
            # is EXPECTED to run twice, so its reserved slot is 2×
            s = steady_100x.get(q, 60.0)
            return 2 * s if s > mandatory_rep_sec else s

        total_expected = sum(expected_cost(q) for q in present)
        reserve_scale = (
            min(1.0, budget / (total_expected * 1.15))
            if total_expected
            else 1.0
        )
        for i, name in enumerate(present):
            fn = QUERIES[name]
            # steady-state room reserved for every LATER query; the
            # final query's reserve is 0, so it runs whenever elapsed
            # is still under the full budget — the guaranteed-slot
            # property the r7 artifact lacked
            reserve_after = reserve_scale * sum(
                expected_cost(q) for q in present[i + 1:]
            )
            elapsed = time.perf_counter() - block_start
            if elapsed > budget - reserve_after:
                skipped_100x.append(name)
                continue
            reps_t, reps_load, reps_ext = [], [], []
            meter = _ExternalCpuMeter()
            start = time.perf_counter()
            fn(spark, dir_100x).count()
            reps_t.append(time.perf_counter() - start)
            reps_load.append(_load_1m())
            reps_ext.append(meter.stop())
            spark.catalog.clearCache()
            steady = steady_100x.get(name)
            elapsed = time.perf_counter() - block_start
            if (
                reps_t[0] > mandatory_rep_sec
                or (steady is not None and reps_t[0] > 2 * steady)
            ) and elapsed <= budget - reserve_after:
                # mandatory second rep for every long row, plus the
                # 2×-steady outlier trigger for short ones — a
                # quiet-window repeat is the defensible number, a
                # confirming second rep is the defensible evidence
                meter = _ExternalCpuMeter()
                start = time.perf_counter()
                fn(spark, dir_100x).count()
                reps_t.append(time.perf_counter() - start)
                reps_load.append(_load_1m())
                reps_ext.append(meter.stop())
                spark.catalog.clearCache()
            # headline takes the LAST rep: with a retry that is the
            # confirming quiet-window sample — a genuine regression
            # repeats there, where min() let a real 2× slowdown hide
            # behind one lucky retry (ADVICE r8). Retried queries are
            # flagged top-level; both reps stay in detail_100x.
            timings_100x[name] = round(reps_t[-1], 3)
            if len(reps_t) > 1:
                retried_100x.append(name)
            detail_100x[name] = {
                "reps": [round(t, 3) for t in reps_t],
                "load_1m": [round(l, 1) for l in reps_load],
                "ext_cores": [
                    None if e is None else round(e, 1) for e in reps_ext
                ],
                **({"steady_ref": steady} if steady is not None else {}),
            }

    out = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "agg": f"min_of_{reps}",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "baseline_pipeline": baseline,
        # The box is SHARED with load from OUTSIDE the container
        # (observed 1-min load 5→15 with zero in-container CPU use);
        # contention windows outlast entire phases, so identical runs
        # vary up to ~3× (the r4 "regression" root cause — see
        # PERF.md round 5). These markers let a reader judge whether a
        # cross-round delta is code or neighbors.
        "host_load_1m": [round(load_start[0], 1),
                         round(_load_1m(), 1)],
        # per-rep times + end-of-rep load for every headline query
        # (full detail in bench_result.json); queries whose BEST rep
        # still ended above the load threshold are flagged inline so
        # a q1-style cross-round outlier self-diagnoses (VERDICT r9
        # #2/#7)
        "detail_headline": detail_headline,
        "load_flag_threshold": load_flag,
    }
    contended = sorted(
        n for n, d in detail_headline.items() if d.get("contended")
    )
    if contended:
        out["contended_headline"] = contended
    # rows whose BEST rep sat >1.5× the quiet-host steady even though
    # ext_cores looked quiet — the CPU meter cannot see IO/page-cache
    # contention, so these rows are suspect on cross-round comparison
    # regardless of the contended flag (VERDICT r12 #2)
    elevated = sorted(
        n for n, d in detail_headline.items() if d.get("elevated")
    )
    if elevated:
        out["elevated_headline"] = elevated
    if timings_scaled:
        out["queries_scaled_10x"] = timings_scaled
        out["scaled_replicas"] = scaled_replicas
        out["value_scaled_10x"] = round(sum(timings_scaled.values()), 3)
        out["detail_10x"] = detail_10x
        contended_10x = sorted(
            n for n, d in detail_10x.items() if d.get("contended")
        )
        if contended_10x:
            out["contended_10x"] = contended_10x
        elevated_10x = sorted(
            n for n, d in detail_10x.items() if d.get("elevated")
        )
        if elevated_10x:
            out["elevated_10x"] = elevated_10x
    if timings_100x:
        out["queries_scaled_100x"] = timings_100x
        out["value_scaled_100x"] = round(sum(timings_100x.values()), 3)
        # the headline 100× number takes each row's LAST rep (the
        # confirming/warm sample — intentional since r12's mandatory
        # second rep, see PERF.md round 13 note on the series
        # discontinuity vs pre-r12 single-rep rounds); the sum of MIN
        # reps is reported alongside so both conventions are always
        # in the artifact (ADVICE r12)
        out["value_scaled_100x_min"] = round(
            sum(
                min(d["reps"]) for d in detail_100x.values()
            ), 3
        )
        # per-query reps + 1-min load at each rep's end: the evidence
        # that lets a reader attribute an outlier to host/JVM state vs
        # the plan (VERDICT r7 #1) — full detail in bench_result.json
        out["detail_100x"] = detail_100x
        if skipped_100x:
            out["skipped_100x_over_budget"] = skipped_100x
        if retried_100x:
            out["retried_100x"] = retried_100x

    # The driver records only the LAST 2000 chars of output and parses
    # the final JSON line out of that window — BENCH_r04 lost the
    # line's head when the 10×/100× per-query blocks pushed it past
    # 2000 chars ("parsed": null). Two defenses: the FULL result is
    # written to bench_result.json next to this file, and the printed
    # line is compacted (scaled per-query detail stays in the file;
    # headline queries stay inline per the driver contract) with a
    # hard length guard. Printed AFTER spark.stop() so no stop-time
    # stderr can land after it in a merged capture.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_result.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=2)
    line_out = dict(out)
    line_out.pop("queries_scaled_10x", None)
    line_out.pop("queries_scaled_100x", None)
    line_out.pop("detail_100x", None)
    line_out.pop("detail_10x", None)
    line_out.pop("detail_headline", None)
    line_out["detail"] = "bench_result.json"
    line = json.dumps(line_out)
    if len(line) > 1900:  # shed the contention/elevation lists first
        # (they live in bench_result.json too), headline totals last
        line_out.pop("contended_headline", None)
        line_out.pop("elevated_headline", None)
        line_out.pop("elevated_10x", None)
        line = json.dumps(line_out)
    if len(line) > 1900:  # last resort: headline total still parses
        line_out.pop("queries", None)
        line = json.dumps(line_out)
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
