"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q

- the generator is a pure function of its seed;
- a wrong output makes the run count a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import generate as gen
from perfbench.generate import generate, read_tsv_rows
from perfbench.run import count_failures, measure, result
from perfbench.workloads import CorpusJob, IncrementalDedup, PassOutput, VectorSearch

SCALE = 0.2
# the source→subsource map is the same fixed fan-out for every seed
SEED_INDEPENDENT = {"src2sub.txt", "truth.json", "DONE"}


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_differs(tmp_path, workload):
    a = generate(workload, 3, SCALE, str(tmp_path / "a"))
    b = generate(workload, 3, SCALE, str(tmp_path / "b"))
    c = generate(workload, 4, SCALE, str(tmp_path / "c"))
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert set(da) == set(dc)
    assert any(f.startswith("expected_") for f in da)
    assert all(da[f] != dc[f] for f in set(da) - SEED_INDEPENDENT)


def test_minhash_pairs_include_planted(tmp_path):
    d = generate("incremental_dedup", 5, SCALE, str(tmp_path))
    exp = {(a, b) for a, b, _ in read_tsv_rows(os.path.join(d, "expected_pairs.tsv"), 0)}
    planted = read_tsv_rows(os.path.join(d, "planted_pairs.tsv"), 0)
    assert planted <= exp


def _write_corpus_outputs(root: str, inputs: str, corrupt: bool) -> dict:
    """Job sinks laid out as run_job writes them, from the ground truth."""
    g = sorted(read_tsv_rows(os.path.join(inputs, "expected_global.tsv"), 1))
    s = sorted(read_tsv_rows(os.path.join(inputs, "expected_source.tsv"), 2))
    if corrupt:
        t, df, tf, td = g[0]
        g[0] = (t, df, tf + 1, td)
    out = os.path.join(root, "out")
    cols = ("token", "document_frequency", "term_frequency", "tdsum")
    os.makedirs(os.path.join(out, "global_stats"))
    pq.write_table(
        pa.table({c: [r[i] for r in g] for i, c in enumerate(cols)}),
        os.path.join(out, "global_stats", "part-0.parquet"),
    )
    for src in sorted({r[1] for r in s}):
        d = os.path.join(out, "source_stats", f"source={src}")
        os.makedirs(d)
        rows = [(r[0], *r[2:]) for r in s if r[1] == src]
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
            os.path.join(d, "part-0.parquet"),
        )
    with open(os.path.join(inputs, "truth.json")) as fh:
        n_vocab = json.load(fh)["vocabulary"]
    os.makedirs(os.path.join(out, "vocabulary"))
    pq.write_table(
        pa.table({"token": [str(i) for i in range(n_vocab)]}),
        os.path.join(out, "vocabulary", "part-0.parquet"),
    )
    return {n: os.path.join(out, n) for n in ("global_stats", "source_stats", "vocabulary")}


@pytest.mark.parametrize("corrupt", [False, True])
def test_corpus_check_counts_wrong_stats_as_failed(tmp_path, corrupt):
    inputs = generate("corpus_job", 6, SCALE, str(tmp_path / "gen"))
    outputs = _write_corpus_outputs(str(tmp_path / "job"), inputs, corrupt)
    checks = CorpusJob().check(outputs, inputs)
    assert count_failures(checks) == (1, int(corrupt))
    assert (checks[0]["exact"] == 1.0) is not corrupt
    assert checks[0]["recall"] == 1.0


def test_dedup_check_counts_missing_or_extra_pair_as_failed(tmp_path):
    inputs = generate("incremental_dedup", 7, SCALE, str(tmp_path))
    exp = sorted(read_tsv_rows(os.path.join(inputs, "expected_pairs.tsv"), 0))
    wl = IncrementalDedup()
    assert count_failures(wl.check(exp, inputs)) == (1, 0)
    assert count_failures(wl.check(exp[1:], inputs)) == (1, 1)
    assert count_failures(wl.check(exp + [(1, 2, 32)], inputs)) == (1, 1)
    assert count_failures(wl.check(exp + exp[:1], inputs)) == (1, 1)


def test_vector_check_counts_wrong_neighbour_as_failed(tmp_path):
    inputs = generate("vector_search", 8, SCALE, str(tmp_path))
    batches: dict[int, list[dict]] = {}
    with open(os.path.join(inputs, "expected_topk.tsv")) as fh:
        for line in fh:
            b, qid, rank, nid, _ = line.split("\t")
            batches.setdefault(int(b), []).append(
                {"query_id": int(qid), "neighbor_id": int(nid), "rank": int(rank)}
            )
    good = [(rows, rows) for _, rows in sorted(batches.items())]
    wl = VectorSearch()
    checks = wl.check(good, inputs)
    assert count_failures(checks) == (len(good), 0)
    assert all(c["recall"] == 1.0 and c["exact"] == 1.0 for c in checks)

    bad_bf = [dict(r) for r in good[0][1]]
    # swap the best and the tenth neighbour of the first query
    first = [r for r in bad_bf if r["query_id"] == bad_bf[0]["query_id"]]
    r1 = next(r for r in first if r["rank"] == 1)
    r10 = next(r for r in first if r["rank"] == 10)
    r1["neighbor_id"], r10["neighbor_id"] = r10["neighbor_id"], r1["neighbor_id"]
    checks = wl.check([(good[0][0], bad_bf)] + good[1:], inputs)
    assert count_failures(checks) == (len(good), 1)
    # an approximate answer whose ranking is out of cosine order also fails
    checks = wl.check([(bad_bf, good[0][1])] + good[1:], inputs)
    assert count_failures(checks) == (len(good), 1)


class _Fake:
    """One pass with a given output; the checker accepts only 1."""

    def __init__(self, out):
        self.out = out

    def run_pass(self, spark, inputs):
        return PassOutput(self.out, [0.01])

    def check(self, out, inputs):
        return [{"correct": out == 1, "recall": 1.0, "exact": float(out == 1)}]


@pytest.mark.parametrize("out", [1, 2])
def test_wrong_output_makes_the_run_incorrect(out):
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    m = measure(_Fake(out), spark, "unused", seconds=0)
    line = result(m, {})
    wrong = out != 1
    assert (line["attempted"], line["failed"], line["correct"]) == (1, int(wrong), not wrong)


def test_layer_map_covers_every_per_layer_metric_once():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(here, "layers.json")) as fh:
        layers = json.load(fh)["layers"]
    mapped = [n for g in layers for n in g["metrics"]]
    assert sorted(mapped) == sorted(m["name"] for m in spec["per_layer"])
    e2e = {m["name"] for m in spec["end_to_end"]}
    workloads = {w["name"] for w in spec["workloads"]}
    for g in layers:
        assert set(g["moves"]) <= e2e
        assert set(g["on"]) | set(g["flat_on"]) | set(g["measured_on"]) <= workloads
