"""The workloads and layer probes. Each drives one layer stack of the
program through its public functions, checks outputs against the
generator's ground truth, and knows how to take a traced pass of itself.

- ``run_pass`` is what the end-to-end metrics time: input to complete
  result (outputs written and read back to the driver).
- ``check`` returns one ``{"correct", "recall", "exact"}`` per checked
  operation.
- ``traced_pass`` repeats one pass with spans and status-store counters
  around each layer call and returns the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import textwrap
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import tracing as tr
from perfbench.generate import read_tsv_rows

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
TOP_K = 10


@dataclass
class PassOutput:
    result: object
    batch_s: list[float]
    extra: dict = field(default_factory=dict)


def _truth(inputs: str) -> dict:
    with open(os.path.join(inputs, "truth.json")) as fh:
        return json.load(fh)


def _row_agreement(out: set, expected: set) -> float:
    """|out ∩ expected| / |out ∪ expected|: 1.0 only when equal."""
    union = out | expected
    return len(out & expected) / len(union) if union else 1.0


# --------------------------------------------------------------------------
# corpus_job
# --------------------------------------------------------------------------

class CorpusJob:
    """The reference's INI job: ``JobConfig.from_ini`` → ``run_job``.
    Run as a layer probe of vector_search's traced run."""

    name = "corpus_job"

    def __init__(self):
        self._n = 0

    def _ini(self, inputs: str, maxngrams: int) -> str:
        self._n += 1
        d = os.path.join(WORK, "corpus_job", f"pass{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        path = os.path.join(d, "job.conf")
        with open(path, "w") as fh:
            fh.write(
                textwrap.dedent(
                    f"""\
                    [job]
                    stagingloc = {inputs}
                    corpus = corpus.txt
                    index2doc = index.tsv
                    src2sub = src2sub.txt
                    phrases = phrases.txt
                    collections = collections.txt
                    outputFolder = {d}/out
                    maxngrams = {maxngrams}
                    """
                )
            )
        return path

    def run_pass(self, spark, inputs: str) -> PassOutput:
        from vspace_spark.pipelines.corpus_job import JobConfig, run_job

        ini = self._ini(inputs, _truth(inputs)["maxngrams"])
        t0 = time.perf_counter()
        outputs = run_job(spark, JobConfig.from_ini(ini))
        return PassOutput(outputs, [time.perf_counter() - t0])

    def check(self, outputs: dict, inputs: str) -> list[dict]:
        g = pq.read_table(outputs["global_stats"]).to_pylist()
        s = pads.dataset(
            outputs["source_stats"], format="parquet", partitioning="hive"
        ).to_table().to_pylist()
        got = {
            (r["token"], r["document_frequency"], r["term_frequency"], r["tdsum"])
            for r in g
        } | {
            (r["token"], str(r["source"]), r["document_frequency"],
             r["term_frequency"], r["tdsum"])
            for r in s
        }
        exp = read_tsv_rows(
            os.path.join(inputs, "expected_global.tsv"), 1
        ) | read_tsv_rows(os.path.join(inputs, "expected_source.tsv"), 2)
        vocab_rows = pq.read_table(outputs["vocabulary"]).num_rows
        shutil.rmtree(os.path.dirname(os.path.dirname(outputs["global_stats"])))
        keys = {r[:-3] for r in exp}
        recall = len(keys & {r[:-3] for r in got}) / len(keys)
        exact = _row_agreement(got, exp)
        ok = exact == 1.0 and vocab_rows == _truth(inputs)["vocabulary"]
        return [{"correct": ok, "recall": recall, "exact": exact}]

    def traced_pass(self, spark, inputs: str, tracer: tr.Tracer) -> dict:
        from pyspark.sql import functions as F

        from perfbench.generate import generate
        from vspace_spark.functions.text import normalize_col
        from vspace_spark.io.sources import (
            load_collections,
            load_phrases,
            load_raw_corpus,
        )
        from vspace_spark.operators.stats import build_vocabulary, tokenized_documents
        from vspace_spark.pipelines.corpus_job import JobConfig, run_job

        m: dict[str, float] = {}
        truth = _truth(inputs)
        before = tr.last_job_id(spark)
        ini = self._ini(inputs, truth["maxngrams"])
        with tracer.span("pipelines.corpus_job.run_job") as sp:
            outputs = run_job(spark, JobConfig.from_ini(ini))
        m["_traced_wall_s"] = sp["end"] - sp["start"]
        for phase in ("vocabulary", "corpus", "stats"):
            for k, v in tr.stage_totals(spark, before, phase).items():
                m[f"pipelines.corpus_job.{phase}.{k}"] = v
        checks = self.check(outputs, inputs)

        spark.sparkContext.setJobGroup("perfbench", "per-layer probes")
        path = os.path.join(inputs, "corpus.txt")
        with tracer.span("io.sources.corpus") as sp:
            load_raw_corpus(spark, path).select(
                F.sum(F.length(normalize_col("text")))
            ).collect()
        m["io.sources.corpus_s"] = sp["end"] - sp["start"]

        docs = load_raw_corpus(spark, path).select(
            "document_index", normalize_col("text").alias("text")
        ).persist()
        docs.count()
        kw = dict(text_col="text", id_col="document_index",
                  min_n=1, max_n=truth["maxngrams"])
        with tracer.span("functions.text.everygrams") as sp:
            emitted = tokenized_documents(docs, **kw).agg(F.sum("tf")).first()[0]
        m["functions.text.everygrams_s"] = sp["end"] - sp["start"]
        vocab = build_vocabulary(
            load_phrases(spark, os.path.join(inputs, "phrases.txt")),
            load_collections(spark, os.path.join(inputs, "collections.txt")),
        )
        with tracer.span("operators.stats.gate"):
            passed = tokenized_documents(docs, vocabulary=vocab, **kw).agg(
                F.sum("tf")
            ).first()[0]
        docs.unpersist()
        m["operators.stats.gate_pass_ratio"] = passed / emitted
        counts_ok = (emitted, passed) == (truth["ngrams_emitted"], truth["ngrams_passed"])
        checks.append(
            {"correct": counts_ok, "recall": float(counts_ok), "exact": float(counts_ok)}
        )

        # fixed cost: intercept of the line through a half-size and a
        # full-size run (the half corpus holds the first half of the documents)
        spark.catalog.clearCache()
        half = generate(self.name, truth_seed(inputs), 0.5)
        with tracer.span("pipelines.corpus_job.half") as sp:
            run_job(spark, JobConfig.from_ini(self._ini(half, truth["maxngrams"])))
        t_half = sp["end"] - sp["start"]
        m["pipelines.corpus_job.fixed_s"] = 2 * t_half - m["_traced_wall_s"]
        m["_checks"] = checks
        return m


def truth_seed(inputs: str) -> int:
    """Seed encoded in a generator directory name
    (``<workload>-s<seed>-x<scale>-<version>``)."""
    return int(os.path.basename(inputs).split("-s")[1].split("-x")[0])


# --------------------------------------------------------------------------
# incremental_dedup
# --------------------------------------------------------------------------

class IncrementalDedup:
    """``incremental_minhash_dedup`` with library defaults, replaying the
    generated documents in ``truth["batches"]`` micro-batches."""

    name = "incremental_dedup"
    # one cold replay leaves the next within ~12% of the warm plateau
    # (successive passes on a 4-core host: 38, 22, 19.5, 19 s), and a
    # second warm-up would cost as much as the measured pass
    warmup_passes = 1

    def __init__(self):
        self.listener = None

    def run_pass(self, spark, inputs: str) -> PassOutput:
        from vspace_spark.streaming.incremental import incremental_minhash_dedup

        if self.listener is None:  # lives as long as the session
            self.listener = tr.make_batch_listener()
            spark.streams.addListener(self.listener)
        self.listener.reset()
        work = os.path.join(WORK, "incremental_dedup")
        t0 = time.perf_counter()
        docs = spark.read.parquet(os.path.join(inputs, "docs.parquet"))
        pairs = incremental_minhash_dedup(
            spark, docs, work_dir=work, n_input_files=_truth(inputs)["batches"]
        )
        rows = [(r["a"], r["b"], r["agree"]) for r in pairs.collect()]
        t_end = time.perf_counter()
        prog = self.listener.batches()
        return PassOutput(
            rows,
            [p["batch_ms"] / 1e3 for p in prog],
            {"t0": t0, "t_end": t_end, "progress": prog, "work": work},
        )

    def check(self, rows: list, inputs: str) -> list[dict]:
        got = set(rows)
        exp = read_tsv_rows(os.path.join(inputs, "expected_pairs.tsv"), 0)
        planted = read_tsv_rows(os.path.join(inputs, "planted_pairs.tsv"), 0)
        found = {(a, b) for a, b, _ in got}
        exact = _row_agreement(got, exp)
        return [{
            "correct": got == exp and len(rows) == len(got),
            "recall": len(planted & found) / len(planted),
            "exact": exact,
        }]

    def traced_pass(self, spark, inputs: str, tracer: tr.Tracer) -> dict:
        from datetime import datetime

        before = tr.last_job_id(spark)
        with tracer.span("streaming.incremental.incremental_minhash_dedup") as sp:
            out = self.run_pass(spark, inputs)
        m: dict = {"_traced_wall_s": sp["end"] - sp["start"]}
        tot = tr.stage_totals(spark, before)
        for k in ("exec_cpu_s", "shuffle_write_mb", "gc_s"):
            m[f"streaming.incremental.{k}"] = tot[k]
        prog = out.extra["progress"]

        def epoch(ts: str) -> float:
            return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()

        # perf_counter and the wall clock differ by a constant offset
        off = time.time() - time.perf_counter()
        first = epoch(prog[0]["timestamp"])
        last_end = epoch(prog[-1]["timestamp"]) + prog[-1]["batch_ms"] / 1e3
        add = [p["duration_ms"].get("addBatch", 0) / 1e3 for p in prog]
        trig = [
            (p["duration_ms"].get("triggerExecution", 0)
             - p["duration_ms"].get("addBatch", 0)) / 1e3
            for p in prog
        ]
        ms = [p["batch_ms"] for p in prog]
        x = np.arange(len(ms), dtype=float)
        pre = "streaming.incremental."
        m.update({
            pre + "add_batch_p50_s": tr.median(add),
            pre + "trigger_overhead_p50_s": tr.median(trig),
            pre + "query_planning_s": sum(
                p["duration_ms"].get("queryPlanning", 0) for p in prog
            ) / 1e3,
            pre + "slope_ms_per_batch": float(np.polyfit(x, ms, 1)[0]),
            pre + "prelude_s": first - (out.extra["t0"] + off),
            pre + "readback_s": (out.extra["t_end"] + off) - last_end,
        })
        index = _parquet_files(os.path.join(out.extra["work"], "index"))
        m["io.connectors.index_mb"] = sum(index) / 2**20
        m["io.connectors.index_files"] = len(index)
        pairs = _parquet_files(os.path.join(out.extra["work"], "out"))
        m["io.connectors.pairs_mb"] = sum(pairs) / 2**20
        m["_checks"] = self.check(out.result, inputs)
        return m


def _parquet_files(root: str) -> list[int]:
    """Sizes of the parquet data files under ``root``."""
    return [
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


# --------------------------------------------------------------------------
# vector_search
# --------------------------------------------------------------------------

class VectorSearch:
    """Query batches of top-10 through ``lsh_topk`` and
    ``brute_force_topk_arrow`` against one embedding corpus."""

    name = "vector_search"
    # after one warm-up pass the JIT still compiles through the next
    # one, adding a variable 4-8 CPU-s to it on a 4-core host (core_s
    # IQR/median 0.25 over six seeds, against 0.13 after two passes)
    warmup_passes = 2

    def run_pass(self, spark, inputs: str) -> PassOutput:
        from vspace_spark.operators.similarity import (
            brute_force_topk_arrow,
            lsh_topk,
        )

        truth = _truth(inputs)
        corpus = spark.read.parquet(os.path.join(inputs, "corpus.parquet"))
        results, times = [], []
        for b in range(truth["batches"]):
            t0 = time.perf_counter()
            q = spark.read.parquet(os.path.join(inputs, f"queries_{b}.parquet"))
            lsh = lsh_topk(q, corpus, spark, k=TOP_K, dim=truth["dim"]).collect()
            bf = brute_force_topk_arrow(q, corpus, k=TOP_K).collect()
            times.append(time.perf_counter() - t0)
            results.append((lsh, bf))
        return PassOutput(results, times)

    def check(self, results: list, inputs: str) -> list[dict]:
        t = pq.read_table(os.path.join(inputs, "corpus.parquet"))
        ids = t["vec_id"].to_numpy()
        vecs = np.asarray(t["embedding"].to_pylist())
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        pos = {int(i): n for n, i in enumerate(ids)}
        exp: dict[tuple[int, int], list] = {}
        with open(os.path.join(inputs, "expected_topk.tsv")) as fh:
            for line in fh:
                b, qid, rank, nid, cos = line.split("\t")
                exp.setdefault((int(b), int(qid)), []).append((int(nid), float(cos)))
        out = []
        for b, (lsh, bf) in enumerate(results):
            qt = pq.read_table(os.path.join(inputs, f"queries_{b}.parquet"))
            q_ids = [int(x) for x in qt["vec_id"].to_pylist()]
            qv = np.asarray(qt["embedding"].to_pylist())
            qv = qv / np.linalg.norm(qv, axis=1, keepdims=True)
            q_pos = {qid: j for j, qid in enumerate(q_ids)}

            def cos_of(qid: int, nid: int) -> float:
                return float(vecs[pos[nid]] @ qv[q_pos[qid]])

            bf_by = _ranked(bf)
            lsh_by = _ranked(lsh)
            match = hits = 0
            well_formed = set(bf_by) == set(q_ids) and set(lsh_by) <= set(q_ids)
            for qid in q_ids:
                truth = exp[(b, qid)]
                got = bf_by.get(qid, [])
                for r, (nid, cos) in enumerate(truth):
                    # a different id at a tied cosine is still exact
                    if r < len(got) and (
                        got[r] == nid
                        or (got[r] in pos and abs(cos_of(qid, got[r]) - cos) <= 1e-9)
                    ):
                        match += 1
                approx = lsh_by.get(qid, [])
                hits += len(set(approx) & {nid for nid, _ in truth})
                sims = [cos_of(qid, n) for n in approx if n in pos]
                # approximate, but still a ranking of real candidates
                well_formed &= (
                    len(sims) == len(approx) <= TOP_K
                    and len(set(approx)) == len(approx)
                    and all(x >= y - 1e-9 for x, y in zip(sims, sims[1:]))
                )
            total = TOP_K * len(q_ids)
            exact = match / total
            out.append({
                "correct": well_formed and exact == 1.0,
                "recall": hits / total,
                "exact": exact,
            })
        return out

    def traced_pass(self, spark, inputs: str, tracer: tr.Tracer) -> dict:
        from vspace_spark.operators.similarity import (
            brute_force_topk_arrow,
            lsh_topk,
        )

        truth = _truth(inputs)
        ops = {
            "lsh_topk": lambda q, c: lsh_topk(q, c, spark, k=TOP_K, dim=truth["dim"]),
            "bf_arrow": lambda q, c: brute_force_topk_arrow(q, c, k=TOP_K),
        }
        m: dict = {}
        for op in ops:
            for part in ("build_s", "plan_s", "run_s"):
                m[f"operators.similarity.{op}.{part}"] = 0.0
        m["operators.similarity.bf_arrow.python_cpu_s"] = 0.0
        corpus = spark.read.parquet(os.path.join(inputs, "corpus.parquet"))
        results = []
        t0 = time.perf_counter()
        for b in range(truth["batches"]):
            q = spark.read.parquet(os.path.join(inputs, f"queries_{b}.parquet"))
            rows = {}
            for op, fn in ops.items():
                pre = f"operators.similarity.{op}."
                py0 = tr.python_worker_cpu_s()  # Arrow workers: bf_arrow only
                with tracer.span(pre + "build") as s1:
                    df = fn(q, corpus)
                with tracer.span(pre + "plan") as s2:
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(pre + "run") as s3:
                    rows[op] = df.collect()
                for part, s in (("build_s", s1), ("plan_s", s2), ("run_s", s3)):
                    m[pre + part] += s["end"] - s["start"]
                if op == "bf_arrow":
                    m[pre + "python_cpu_s"] += tr.python_worker_cpu_s() - py0
            results.append((rows["lsh_topk"], rows["bf_arrow"]))
        m["_traced_wall_s"] = time.perf_counter() - t0
        m["_checks"] = self.check(results, inputs)
        return m


def _ranked(rows) -> dict[int, list[int]]:
    by: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["neighbor_id"])))
    return {q: [n for _, n in sorted(v)] for q, v in by.items()}


WORKLOAD_CLASSES = {c.name: c for c in (IncrementalDedup, VectorSearch)}
