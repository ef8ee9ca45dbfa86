"""End-to-end test of the config-driven corpus job (FIXTURES.md §1-4):
builds the reference's five input files in a tmpdir, runs the pipeline,
and checks the stats outputs against hand-computable expectations —
the golden-file test the reference never had (SURVEY.md §5)."""

from __future__ import annotations

import os
import textwrap

import pytest

from vspace_spark.io.sources import RECORD_DELIMITER
from vspace_spark.pipelines.corpus_job import JobConfig, run_job

DOCS = [
    "the quick brown fox",             # doc 0
    "the quick brown fox",             # doc 1 — exact dup
    "machine learning rocks",          # doc 2 — bigram in vocab
    "nferdoccount_7 the\nend",         # doc 3 — docid token must drop;
    #                                    spans a newline (the sentinel is
    #                                    the record delimiter, so multi-
    #                                    line documents must NOT fragment)
    "unknown multi gram here",         # doc 4 — bigrams NOT in vocab
]

INDEX_ROWS = [
    # document_index, url, subsource, year, meta1, title, author, m2, m3, m4
    (0, "u0", "subA", 2020), (1, "u1", "subA", 2020),
    (2, "u2", "subB", 2021), (3, "u3", "subB", 2021),
    (4, "u4", "subC", 2022),  # subC absent from src2sub → inner-join drop
]

SRC2SUB = ["src0 subA,subB", "src1 subB"]

PHRASES = ["machine_learning extra ignored", "quick_brown x"]
COLLECTIONS = ["machine_learning", "brown_fox"]


def _write_job(root, docs, index_rows, src2sub, phrases, collections, maxngrams):
    """The reference's five input files plus the INI under ``root``."""
    # documents separated by the sentinel on its own line — the layout
    # the reference's Hadoop record-delimiter reader handles and the
    # line-split fast path cannot (fragments doc 3 at its newline)
    (root / "corpus.txt").write_text(f"\n{RECORD_DELIMITER}\n".join(docs))
    (root / "index.tsv").write_text(
        "\n".join(
            "\t".join(map(str, r + ("m1", "t", "a", "m2", "m3", "m4")))
            for r in index_rows
        )
    )
    (root / "src2sub.txt").write_text("\n".join(src2sub))
    (root / "phrases.txt").write_text("\n".join(phrases))
    (root / "collections.txt").write_text("\n".join(collections))
    (root / "job.conf").write_text(
        textwrap.dedent(
            f"""\
            [job]
            stagingloc = {root}
            corpus = corpus.txt
            index2doc = index.tsv
            src2sub = src2sub.txt
            phrases = phrases.txt
            collections = collections.txt
            outputFolder = {root}/out
            maxngrams = {maxngrams}
            """
        )
    )
    return JobConfig.from_ini(str(root / "job.conf"))


@pytest.fixture(scope="module")
def job_outputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("vspace_job")
    config = _write_job(
        root, DOCS, INDEX_ROWS, SRC2SUB, PHRASES, COLLECTIONS, maxngrams=2
    )
    metrics: dict[str, float] = {}
    outputs = run_job(spark, config, metrics_out=metrics)
    outputs["_metrics"] = metrics
    return spark, outputs


def _read(spark, outputs, name):
    return spark.read.parquet(outputs[name])


def test_vocabulary_union_distinct_translate(job_outputs):
    spark, outputs = job_outputs
    vocab = {r.token: r.tokenid for r in _read(spark, outputs, "vocabulary").collect()}
    # underscores→spaces, first-field-of-phrases, union+distinct
    assert set(vocab) == {"machine learning", "quick brown", "brown fox"}
    # deterministic dense ids in token order
    assert [vocab[t] for t in sorted(vocab)] == [0, 1, 2]


def test_observe_metrics_ride_existing_actions(job_outputs):
    """DataFrame.observe counters filled by run_job's own writes —
    no extra count() jobs; values match the fixture exactly."""
    spark, outputs = job_outputs
    m = outputs["_metrics"]
    assert m["n_docs"] == len(DOCS)
    stats = _read(spark, outputs, "global_stats")
    assert m["n_terms"] == stats.count()
    assert m["normalized_chars"] > 0
    assert m["total_term_occurrences"] > 0


def test_global_stats_semantics(job_outputs):
    spark, outputs = job_outputs
    stats = {
        r.token: (r.document_frequency, r.term_frequency, r.tdsum)
        for r in _read(spark, outputs, "global_stats").collect()
    }
    # unigrams always pass the gate
    assert stats["the"] == (3, 3, 11)  # docs 0,1 (wc 4) + doc 3 (wc 3)
    # vocabulary-gated bigrams: present iff in vocab
    assert stats["quick brown"] == (2, 2, 8)
    assert stats["machine learning"] == (1, 1, 3)
    assert "unknown multi" not in stats  # bigram not in vocab
    # docid tokens dropped entirely
    assert not any("nferdoccount" in t for t in stats)
    # exact n-gram bounds: maxngrams=2 → no trigrams
    assert all(t.count(" ") <= 1 for t in stats)


def test_source_stats_fanout_and_drop(job_outputs):
    spark, outputs = job_outputs
    stats = _read(spark, outputs, "source_stats")
    by_src = {
        (r.token, r.source): r.document_frequency for r in stats.collect()
    }
    # subA docs (0,1) reach src0 only; subB docs (2,3) reach src0 AND src1
    assert by_src[("quick", "src0")] == 2
    assert by_src[("machine learning", "src0")] == 1
    assert by_src[("machine learning", "src1")] == 1
    # doc 4 (subC) dropped by the inner join
    assert ("unknown", "src0") not in by_src
    # Hive-style partitioning on disk (K3)
    parts = os.listdir(outputs["source_stats"])
    assert any(p.startswith("source=") for p in parts)


def test_normalized_corpus_written(job_outputs):
    spark, outputs = job_outputs
    lines = spark.read.text(outputs["normalized_corpus"]).count()
    assert lines == len(DOCS)


def test_lenient_decode_strips_control_chars(spark, tmp_path):
    """S4 (reference: vspace/pipelines/base.py:234-266): \\x00, \\x01
    and tabs are stripped from decoded lines."""
    from vspace_spark.io.sources import load_and_decode

    p = tmp_path / "dirty.txt"
    p.write_bytes(b"clean line\na\x00b\x01c\td\nlast\n")
    lines = [r.line for r in load_and_decode(spark, str(p)).collect()]
    assert "clean line" in lines
    assert "abcd" in lines  # control chars + tab removed
    assert all("\x00" not in x and "\t" not in x for x in lines)


def test_job_config_splits_honored(spark, tmp_path):
    """O5 (reference: vspace/pipelines/base.py:418-420): the INI
    `splits` key still tunes spark.sql.shuffle.partitions."""
    from vspace_spark.pipelines.corpus_job import JobConfig

    conf = tmp_path / "j.conf"
    conf.write_text(
        "[job]\nstagingloc = /tmp\ncorpus = c\nindex2doc = i\n"
        "src2sub = s\nphrases = p\ncollections = k\n"
        "outputFolder = /tmp/o\nsplits = 7\n"
    )
    jc = JobConfig.from_ini(str(conf))
    assert jc.splits == 7


# The reference counts every (document, source) row of index ⋈ src2sub
# (SURVEY.md:173), so a row that repeats multiplies all three measures.
MULTIPLICITY_DOCS = [
    "a b a",  # doc 0 — indexed twice under subA
    "c d",    # doc 1 — subB, whose source line repeats in src2sub
    "e f",    # doc 2 — no index row
    "g",      # doc 3 — subZ, absent from src2sub
]
MULTIPLICITY_INDEX = [(0, "u0", "subA", 2020), (0, "u0", "subA", 2020),
                      (1, "u1", "subB", 2020), (3, "u3", "subZ", 2020)]
MULTIPLICITY_SRC2SUB = ["src0 subA", "src1 subB", "src1 subB"]


@pytest.fixture(scope="module")
def multiplicity_outputs(spark, tmp_path_factory):
    """The second job, run with a counter on ``tokenized_documents``."""
    from vspace_spark.operators import stats as stats_mod

    calls = []
    real = stats_mod.tokenized_documents
    root = tmp_path_factory.mktemp("vspace_job_multiplicity")
    config = _write_job(
        root, MULTIPLICITY_DOCS, MULTIPLICITY_INDEX, MULTIPLICITY_SRC2SUB,
        ["zz_top"], [], maxngrams=1,
    )
    spark.catalog.clearCache()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            stats_mod,
            "tokenized_documents",
            lambda *a, **kw: calls.append(1) or real(*a, **kw),
        )
        outputs = run_job(spark, config)
    cached_left = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    read = lambda name, *keys: {  # noqa: E731
        tuple(r[k] for k in keys): (
            r.document_frequency, r.term_frequency, r.tdsum
        )
        for r in _read(spark, outputs, name).collect()
    }
    return {
        "global": read("global_stats", "token"),
        "source": read("source_stats", "token", "source"),
        "tokenize_calls": len(calls),
        "cached_left": cached_left,
    }


def test_duplicate_index_rows_multiply_every_measure(multiplicity_outputs):
    source = multiplicity_outputs["source"]
    # "a b a" twice under subA → src0: df 2, tf 2·2, tdsum 2·3
    assert source[("a", "src0")] == (2, 4, 6)
    assert source[("b", "src0")] == (2, 2, 6)
    # global_stats counts each document once, whatever its index rows
    assert multiplicity_outputs["global"][("a",)] == (1, 2, 3)


def test_repeated_source_line_multiplies_every_measure(multiplicity_outputs):
    assert multiplicity_outputs["source"][("c", "src1")] == (2, 2, 4)


def test_unindexed_and_unmapped_documents(multiplicity_outputs):
    glob, source = multiplicity_outputs["global"], multiplicity_outputs["source"]
    # no index row: global only
    assert glob[("e",)] == (1, 1, 2)
    # subsource absent from src2sub: global only, no source row
    assert glob[("g",)] == (1, 1, 1)
    assert {t for t, _ in source} == {"a", "b", "c", "d"}
    assert {s for _, s in source} == {"src0", "src1"}


def test_job_tokenizes_once_and_releases_its_caches(multiplicity_outputs):
    assert multiplicity_outputs["tokenize_calls"] == 1
    assert not multiplicity_outputs["cached_left"]


def test_term_statistics_pieces_are_defined_once():
    """Structural guard, same shape as the MinHash/SimHash one: the
    three-measure aggregate and the vocabulary LEFT SEMI gate occur
    ONCE under vspace_spark (operators/stats.py), no module under
    vspace_spark/ or scripts/ sums a measure outside merge_term_stats,
    and the old per-source fan-out helper is gone. Every term-statistics
    lane produces the reference's numbers only while it shares these
    definitions."""
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    once = {
        "measure aggregate": r'alias\("document_frequency"\)',
        "vocabulary gate": r'"token","left_semi"',
    }
    never = {
        # (run_job's observed term_frequency total is a metric, not a rollup)
        "measure rollup": r'sum\("(document_frequency|tdsum)"\)',
        "fan-out helper": r"combine_corpus_with_sources",
    }
    counts = dict.fromkeys([*once, *never], 0)
    for top in ("vspace_spark", "scripts"):
        for path in (repo / top).rglob("*.py"):
            src = re.sub(r"\s+", "", path.read_text())
            for name, pat in {**once, **never}.items():
                if top == "scripts" and name in once:
                    continue
                counts[name] += len(re.findall(pat, src))
    assert counts == {**dict.fromkeys(once, 1), **dict.fromkeys(never, 0)}, counts
