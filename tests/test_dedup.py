"""Behavioral tests for the non-SQL-expressible dedup operators:
MinHash+LSH and SimHash are probabilistic, so instead of an oracle we
assert recall/precision against the EXACT Jaccard pairs and invariance
properties (identical text → identical signature)."""

from __future__ import annotations

import os

import pytest
from conftest import arrow_frame
from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    shingle_pairs_jaccard,
    simhash_near_pairs,
)
from vspace_spark.functions.text import tokenize_col


def _with_planted_dups(spark, sf_dir):
    """Corpus + planted near-duplicates: copies of real docs with one
    word changed, ids offset by 100000."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    dups = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(dups)


def test_minhash_identical_docs_identical_sigs(spark, sf_dir):
    from vspace_spark.operators.dedup import _minhash_plan, _minhash_sigs

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(5)
    twins = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 100000)
    )
    for engine in ("portable", "xxhash64"):
        sigs = {
            r._id: r.sig
            for r in _minhash_sigs(
                twins, _minhash_plan(engine, "text", 3, 16)
            ).collect()
        }
        originals = [i for i in sigs if i < 100000]
        assert originals
        for i in originals:
            assert len(sigs[i]) == 16
            assert sigs[i] == sigs[i + 100000], (engine, i)


@pytest.mark.parametrize(
    "num_hashes, bands", [(4, 8), (16, 5), (16, 0)]
)
def test_minhash_banding_rejects_unequal_bands(spark, num_hashes, bands):
    """``num_hashes // bands == 0`` made every band's bucket ``""``, so
    six unrelated documents came back as all 15 pairs; any band split
    that is not equal and non-empty is refused before Spark work."""
    from vspace_spark.operators.dedup import minhash_lsh_pairs_portable
    from vspace_spark.streaming.incremental import incremental_minhash_dedup

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} v{i}") for i in range(6)],
        "doc_id long, text string",
    )
    for fn in (minhash_lsh_pairs, minhash_lsh_pairs_portable):
        with pytest.raises(ValueError, match="divisible by bands"):
            fn(docs, num_hashes=num_hashes, bands=bands)
    with pytest.raises(ValueError, match="divisible by bands"):
        incremental_minhash_dedup(
            spark, docs, num_hashes=num_hashes, bands=bands
        )


def test_minhash_lsh_recall_against_exact_jaccard(spark, sf_dir):
    corpus = _with_planted_dups(spark, sf_dir)
    exact = {
        (r.a, r.b)
        for r in shingle_pairs_jaccard(corpus, n=3, threshold=0.8).collect()
    }
    assert exact, "planted dups must create high-Jaccard pairs"
    candidates = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            corpus, shingle_n=3, num_hashes=64, bands=16
        ).collect()
    }
    recall = len(exact & candidates) / len(exact)
    # 16 bands × 4 rows: P(collide | J=0.8) ≈ 1-(1-0.8^4)^16 ≈ 0.9997
    assert recall >= 0.9, f"LSH recall {recall} too low ({len(exact)} truths)"


def test_minhash_portable_recall_against_exact_jaccard(spark, sf_dir):
    """The md5-portable variant (the oracle-checked registered query)
    keeps LSH recall at the planted-dup threshold: 8 bands × 4 rows →
    P(collide | J=0.8) ≈ 1-(1-0.8^4)^8 ≈ 0.982."""
    from vspace_spark.operators.dedup import minhash_lsh_pairs_portable

    corpus = _with_planted_dups(spark, sf_dir)
    exact = {
        (r.a, r.b)
        for r in shingle_pairs_jaccard(corpus, n=3, threshold=0.8).collect()
    }
    assert exact
    candidates = {
        (r.a, r.b)
        for r in minhash_lsh_pairs_portable(
            corpus, shingle_n=3, num_hashes=32, bands=8
        ).collect()
    }
    recall = len(exact & candidates) / len(exact)
    assert recall >= 0.9, f"portable LSH recall {recall} ({len(exact)} truths)"


def test_minhash_est_jaccard_tracks_true_jaccard(spark, sf_dir):
    corpus = _with_planted_dups(spark, sf_dir)
    est = minhash_lsh_pairs(corpus, shingle_n=3, num_hashes=64, bands=16)
    true = shingle_pairs_jaccard(corpus, n=3, threshold=0.0)
    joined = est.join(true, ["a", "b"]).select("est_jaccard", "jaccard")
    rows = joined.collect()
    assert rows
    mae = sum(abs(r.est_jaccard - r.jaccard) for r in rows) / len(rows)
    assert mae < 0.15, f"MinHash estimate MAE {mae} too high"


def test_stream_row_minhash_equals_shared_signature(spark, sf_dir):
    """The ingest stream's per-row MinHash (``_row_minhash``, stateless
    for the stream-static join) equals the batch builder's explode +
    per-seed MIN signature on every document, for the portable family
    the stream runs."""
    from vspace_spark.functions.text import ngrams_col
    from vspace_spark.operators.dedup import (
        _minhash_plan,
        _minhash_sigs,
        _row_minhash,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.size(tokenize_col("text")) >= 3
    )
    shingles = F.array_distinct(ngrams_col(tokenize_col("text"), 3))
    row = docs.select(
        F.col("doc_id").alias("_id"),
        _row_minhash("portable", shingles, 32).alias("sig"),
    )
    agg = _minhash_sigs(docs, _minhash_plan("portable", "text", 3, 32))
    got = {r._id: r.sig for r in row.collect()}
    want = {r._id: r.sig for r in agg.collect()}
    assert got and got == want


def test_simhash_identical_and_near(spark, sf_dir):
    from vspace_spark.operators.dedup import simhash_signatures

    corpus = _with_planted_dups(spark, sf_dir)
    sigs = simhash_signatures(corpus, "doc_id", tokenize_col("text")).select(
        F.col("_id").alias("doc_id"), "sig"
    )
    orig = sigs.filter(F.col("doc_id") < 100000).alias("o")
    dup = sigs.filter(F.col("doc_id") >= 100000).alias("d")
    paired = orig.join(
        dup, F.col("d.doc_id") == F.col("o.doc_id") + 100000
    ).select(
        F.bit_count(F.col("o.sig").bitwiseXOR(F.col("d.sig"))).alias("ham")
    )
    rows = paired.collect()
    assert rows
    # one-word edits should stay within a small Hamming radius
    avg = sum(r.ham for r in rows) / len(rows)
    assert avg <= 12, f"avg hamming {avg} too high for near-dups"


def test_simhash_near_pairs_finds_planted(spark, sf_dir):
    corpus = _with_planted_dups(spark, sf_dir)
    # radius 12 needs ≥13 chunks for the pigeonhole guarantee; 16 is the
    # next divisor of 64 (4-bit chunks — coarser buckets, more
    # candidates, acceptable at test scale)
    pairs = simhash_near_pairs(corpus, max_hamming=12, n_chunks=16)
    found = {(r.a, r.b) for r in pairs.collect()}
    planted = {
        (r.doc_id, r.doc_id + 100000)
        for r in corpus.filter(F.col("doc_id") < 100000).collect()
    }
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"simhash blocking recall {recall}"


def test_simhash_portable_finds_planted(spark, sf_dir):
    """The md5-portable 60-bit variant (the oracle-checked registered
    query) finds planted near-dups at a pigeonhole-guaranteed radius:
    one-word edits land within Hamming 9 of the original, so 10 × 6-bit
    chunks guarantee their recall."""
    from vspace_spark.operators.dedup import simhash_near_pairs_portable

    corpus = _with_planted_dups(spark, sf_dir)
    pairs = simhash_near_pairs_portable(corpus, max_hamming=9, n_chunks=10)
    found = {(r.a, r.b) for r in pairs.collect()}
    planted = {
        (r.doc_id, r.doc_id + 100000)
        for r in corpus.filter(F.col("doc_id") < 100000).collect()
    }
    recall = len(found & planted) / len(planted)
    assert recall >= 0.8, f"portable simhash recall {recall}"


def test_exact_dedup_keeps_min_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    kept = exact_dedup(doubled.select("doc_id", "text"), ["text"], "doc_id")
    assert kept.count() == 20
    assert kept.filter(F.col("doc_id") >= 500000).count() == 0


# ---------------------------------------------------------------------------
# Hot-bucket cutoff (skew guard) — VERDICT r2 #5
# ---------------------------------------------------------------------------


def _degenerate_corpus(spark, n_clones: int = 120):
    """Pathological fixture: one giant near-identical cluster (n_clones
    copies of the same text) plus a handful of distinct docs — the
    worst case for (band, bucket) keys, where the bucket self-join
    would emit ~n_clones² candidate pairs."""
    clone = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, clone) for i in range(n_clones)]
    rows += [
        (10_000 + j, f"unique{j} solo{j} words{j} here{j} now{j}")
        for j in range(5)
    ]
    return arrow_frame(spark, rows, "doc_id long, text string")


def test_minhash_hot_bucket_cutoff_bounds_candidate_volume(spark):
    from vspace_spark.operators.dedup import minhash_lsh_pairs

    corpus = _degenerate_corpus(spark, n_clones=120)
    uncapped = minhash_lsh_pairs(corpus, num_hashes=16, bands=4).count()
    # every clone pair is a candidate: 120*119/2
    assert uncapped >= 120 * 119 // 2
    capped = minhash_lsh_pairs(
        corpus, num_hashes=16, bands=4, max_bucket_size=10
    ).count()
    # the clone bucket (120 members in every band) is dropped outright;
    # surviving buckets have ≤10 members, so candidate volume is bounded
    # by sum over buckets of 10*9/2 — far below the clone blow-up
    assert capped <= 4 * 10 * 9 // 2, f"capped={capped}"


def test_simhash_hot_bucket_cutoff_bounds_candidate_volume(spark):
    from vspace_spark.operators.dedup import simhash_near_pairs

    corpus = _degenerate_corpus(spark, n_clones=120)
    uncapped = simhash_near_pairs(corpus).count()
    assert uncapped >= 120 * 119 // 2
    capped = simhash_near_pairs(corpus, max_bucket_size=10).count()
    assert capped <= 8 * 10 * 9 // 2, f"capped={capped}"


def test_minhash_guard_diverges_under_collapse_documented(spark):
    """max_bucket_size semantics intentionally CHANGE under
    collapse_exact (documented in the minhash_lsh_pairs docstring —
    ADVICE r4): the raw path counts bucket occupancy over ALL docs, so
    an under-cap clone group plus one colliding near-dup pushes the
    shared buckets over cap and the clone-vs-near-dup pairs drop; the
    collapsed path caps clone GROUPS and counts occupancy over
    CANONICALS (2 here), so those pairs survive. This test pins the
    documented difference so it can't drift silently."""
    base = [f"w{i}" for i in range(30)]
    t = " ".join(base)
    t_near = " ".join(w if i != 15 else "xx" for i, w in enumerate(base))
    corpus = spark.createDataFrame(
        [(1, t), (2, t), (3, t), (4, t_near)], "doc_id long, text string"
    )
    kw = dict(num_hashes=64, bands=16, max_bucket_size=3)
    collapsed = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            corpus, collapse_exact=True, **kw
        ).collect()
    }
    raw = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            corpus, collapse_exact=False, **kw
        ).collect()
    }
    intra = {(1, 2), (1, 3), (2, 3)}
    cross = {(1, 4), (2, 4), (3, 4)}
    # collapsed: the clone group of 3 is under the group cap and the
    # canonical-level bucket holds only {canon, near-dup} -> all kept
    assert collapsed == intra | cross, f"collapsed={collapsed}"
    # raw: buckets where doc 4 collides with the clones hold 4 members
    # (> cap) and are dropped; clone-only buckets hold exactly 3
    # (= cap) and keep the intra pairs
    assert raw == intra, f"raw={raw}"


def test_hot_bucket_cutoff_preserves_normal_recall(spark, sf_dir):
    """On a NON-degenerate corpus a generous cutoff must not change the
    result at all: real buckets stay far below the cap."""
    from vspace_spark.operators.dedup import minhash_lsh_pairs

    corpus = _with_planted_dups(spark, sf_dir)
    base = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(corpus, num_hashes=16, bands=4).collect()
    }
    capped = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            corpus, num_hashes=16, bands=4, max_bucket_size=50
        ).collect()
    }
    assert base == capped


# ---------------------------------------------------------------------------
# Portable (md5) vs fast (xxhash64) twin equivalence — VERDICT r2 #6
# ---------------------------------------------------------------------------

import random  # noqa: E402

from hypothesis import given, settings, strategies as st  # noqa: E402

_WORDS = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen", "owl", "pig"]

# a document = 4..8 words (≥3 so 3-gram shingles exist)
_doc = st.lists(st.sampled_from(_WORDS), min_size=4, max_size=8).map(" ".join)


@st.composite
def _corpus_with_planted_dups(draw):
    """6..12 random docs, 2..4 of which are duplicated verbatim under
    offset ids — the planted pairs both hash families MUST find."""
    texts = draw(st.lists(_doc, min_size=6, max_size=12))
    n_dups = draw(st.integers(min_value=2, max_value=min(4, len(texts))))
    dup_idx = sorted(draw(
        st.sets(
            st.integers(min_value=0, max_value=len(texts) - 1),
            min_size=n_dups,
            max_size=n_dups,
        )
    ))
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(1000 + i, texts[i]) for i in dup_idx]
    return rows, {(i, 1000 + i) for i in dup_idx}


def _fixed_texts(n: int) -> list[str]:
    rng = random.Random(0)
    texts: list[str] = []
    while len(texts) < n:
        t = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 8)))
        if t not in texts:
            texts.append(t)
    return texts


# One fixed planted-verbatim-dup corpus: 40 distinct docs, of which 0, 3
# and 7 are duplicated under ids 1000 + i. 40 of 43 texts are distinct,
# above the clone probe's 0.9 ratio, so the pair generators take the raw
# path and the planted pairs come from the hash families themselves; the
# hypothesis corpora (at most 10 of 12 distinct) always collapse, and
# their planted pairs get the expand step's literal est_jaccard 1.0 /
# hamming 0.
_FIXED_TEXTS = _fixed_texts(40)
_FIXED_CASE = (
    [(i, t) for i, t in enumerate(_FIXED_TEXTS)]
    + [(1000 + i, _FIXED_TEXTS[i]) for i in (0, 3, 7)],
    {(0, 1000), (3, 1003), (7, 1007)},
)


def _assert_minhash_twins_find(spark, case):
    from vspace_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_portable,
    )

    rows, planted = case
    corpus = arrow_frame(spark, rows, "doc_id long, text string")
    for fn in (minhash_lsh_pairs, minhash_lsh_pairs_portable):
        got = {
            (r.a, r.b): r.est_jaccard
            for r in fn(corpus, num_hashes=16, bands=4).collect()
        }
        for pair in planted:
            assert pair in got, f"{fn.__name__} missed planted {pair}"
            assert got[pair] == 1.0, f"{fn.__name__} {pair}: {got[pair]}"


def _assert_simhash_twins_find(spark, case):
    from vspace_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_near_pairs_portable,
    )

    rows, planted = case
    corpus = arrow_frame(spark, rows, "doc_id long, text string")
    for fn in (simhash_near_pairs, simhash_near_pairs_portable):
        got = {(r.a, r.b): r.hamming for r in fn(corpus).collect()}
        for pair in planted:
            assert pair in got, f"{fn.__name__} missed planted {pair}"
            assert got[pair] == 0, f"{fn.__name__} {pair}: {got[pair]}"


@settings(max_examples=5, deadline=None)
@given(_corpus_with_planted_dups())
@pytest.mark.slow  # >20 s (measured r14): driver verify-window budget
def test_minhash_twins_equal_recall_on_planted_dups(spark, case):
    """Identical documents have identical signatures under ANY hash
    family, so every planted verbatim-dup pair must surface in BOTH the
    xxhash64 fast path and the md5 portable path with est_jaccard 1.0 —
    the property that lets the oracle-checked portable twin's evidence
    transfer to the unchecked fast twin."""
    _assert_minhash_twins_find(spark, case)


@settings(max_examples=5, deadline=None)
@given(_corpus_with_planted_dups())
@pytest.mark.slow  # >20 s (measured r14): driver verify-window budget
def test_simhash_twins_equal_recall_on_planted_dups(spark, case):
    _assert_simhash_twins_find(spark, case)


def test_minhash_twins_find_planted_dups_fixed_corpus(spark):
    """Default-suite twin of the slow hypothesis test: one fixed
    planted-verbatim-dup corpus, the same assertions."""
    _assert_minhash_twins_find(spark, _FIXED_CASE)


def test_simhash_twins_find_planted_dups_fixed_corpus(spark):
    """Default-suite twin of the slow hypothesis test: one fixed
    planted-verbatim-dup corpus, the same assertions."""
    _assert_simhash_twins_find(spark, _FIXED_CASE)


def test_ann_lsh_twins_find_duplicated_vectors(spark, sf_dir):
    """Same transfer property for ANN-LSH: a verbatim-duplicated
    embedding shares every table's bucket with its original under BOTH
    plane families, so each twin must report it as the rank-1 neighbor
    (cosine exactly 1)."""
    from vspace_spark.operators.similarity import (
        lsh_topk,
        portable_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(40)
    dups = emb.limit(5).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dups)
    queries = dups
    dim = len(emb.first()["embedding"])
    for planes in (None, portable_hyperplanes(dim, 4 * 8)):
        top = lsh_topk(
            queries, corpus, spark, k=1, bits=4, tables=8, dim=dim,
            planes=planes,
        )
        got = {(r.query_id, r.neighbor_id) for r in top.collect()}
        for r in dups.select("vec_id").collect():
            assert (r.vec_id, r.vec_id - 900000) in got, (
                f"planes={'portable' if planes else 'fast'} missed "
                f"{r.vec_id}"
            )


def test_keep_best_exact_collapse_matches_uncollapsed_oracle(
    spark, tmp_path
):
    """The r4 exact→near prepass in dedup_keep_best (collapse verbatim
    clones per (source, text) before Jaccard pair-gen) must be output-
    IDENTICAL to the uncollapsed formulation — which is exactly what
    the DuckDB oracle still computes. The bundled fixtures carry few
    verbatim clones, so this plants the adversarial shapes: a clone
    group, a near-dup bridging INTO a clone group (connectivity must
    route through the canonical), identical text in a DIFFERENT source
    (blocked — must NOT merge), singletons, and identical SUB-3-TOKEN
    clones (no shingles → the oracle never pairs them, so they must
    stay separate singletons; ADVICE r4 found a hand-rolled collapse
    merging them)."""
    import duckdb
    import pandas as pd

    from vspace_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    base = [f"w{i}" for i in range(30)]
    t1 = " ".join(base)
    # near-dup of t1: ONE word changed -> 3 of 28 trigram shingles
    # differ, J = 25/31 ~ 0.81 >= 0.6
    t1b = " ".join(w if i != 15 else "xx" for i, w in enumerate(base))
    rows = [
        (1, t1, "s1"), (2, t1, "s1"), (3, t1, "s1"),   # clones in s1
        (4, t1b, "s1"),                                  # near-dup bridge
        (5, t1, "s2"), (6, t1, "s2"),                    # clones in s2
        (7, "completely different words entirely unrelated text here",
         "s1"),                                          # singleton
        (8, "too short", "s1"), (9, "too short", "s1"),  # short clones:
        # < 3 tokens -> no shingles -> oracle keeps them as TWO
        # singletons; the collapse must not merge them
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    d = str(tmp_path / "sfclone")
    docs.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    got = (
        QUERIES["dedup_keep_best"](spark, d)
        .toPandas()
        .sort_values("component")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    want = (
        con.execute(ORACLES["dedup_keep_best"]).df()
        .sort_values("component")
        .reset_index(drop=True)
    )
    # docs 1-4 one component (near-dup bridges the clone group),
    # docs 5-6 their own (source block), docs 7/8/9 singletons (8 and
    # 9 are identical but sub-3-token — never paired by the oracle)
    assert sorted(got["n_members"].tolist()) == [1, 1, 1, 2, 4]
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)],
        check_dtype=False, check_exact=True,
    )


def test_jaccard_exact_collapse_matches_uncollapsed_oracle(spark, tmp_path):
    """shingle_pairs_jaccard's r4 exact-collapse path must emit the
    IDENTICAL pair list (ids, jaccard doubles, a<b ordering) as the
    raw inverted-index formulation — which the DuckDB oracle and the
    collapse_exact=False path both compute. Planted shapes: clone
    group, near-dup bridging into it, cross-source identical text
    (blocked), sub-n-token docs (no shingles — must never pair), and
    singletons."""
    import duckdb
    import pandas as pd

    from vspace_spark.operators.dedup import shingle_pairs_jaccard
    from vspace_spark.queries import ORACLES, load_all

    load_all()
    base = [f"w{i}" for i in range(30)]
    t1 = " ".join(base)
    t1b = " ".join(w if i != 15 else "xx" for i, w in enumerate(base))
    rows = [
        (1, t1, "s1"), (2, t1, "s1"), (3, t1, "s1"),
        (4, t1b, "s1"),
        (5, t1, "s2"), (6, t1, "s2"),
        (7, "tiny doc", "s1"), (8, "tiny doc", "s1"),  # < 3 tokens
        (9, "some completely different unrelated content here", "s1"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )

    def canon(df):
        df = df[["a", "b", "jaccard"]].copy()
        df["jaccard"] = df["jaccard"].round(6)
        return df.sort_values(["a", "b"]).reset_index(drop=True)

    collapsed = canon(
        shingle_pairs_jaccard(
            docs, n=3, threshold=0.6, block_col="source",
            collapse_exact=True,
        ).toPandas()
    )
    raw = canon(
        shingle_pairs_jaccard(
            docs, n=3, threshold=0.6, block_col="source",
            collapse_exact=False,
        ).toPandas()
    )
    pd.testing.assert_frame_equal(collapsed, raw, check_dtype=False)
    # and both against the registered oracle over the same rows
    d = str(tmp_path / "sfjac")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text").cast("long")
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    want = canon(con.execute(ORACLES["dedup_jaccard_pairs"]).df())
    pd.testing.assert_frame_equal(collapsed, want, check_dtype=False)
    # sanity: the planted shapes actually exercised each branch
    assert (1, 2) in set(zip(collapsed["a"], collapsed["b"]))  # intra
    assert (1, 4) in set(zip(collapsed["a"], collapsed["b"]))  # cross
    assert 7 not in set(collapsed["a"]) | set(collapsed["b"])  # no shingles
    assert not {(1, 5), (2, 5)} & set(zip(collapsed["a"], collapsed["b"]))


def test_embedding_collapse_matches_raw_pairs(spark):
    """Vector edition of the exact-collapse equality: identical
    vectors (clones), a genuine near pair, a blocked cross-label
    identical pair, and a ZERO vector (raw cosine NaN — never pairs,
    must not gain a pair through collapse) produce the identical id
    pair set through both paths."""
    from vspace_spark.operators.dedup import embedding_near_pairs

    v = [1.0, 0.0, 2.0, 0.5]
    near = [1.0, 0.1, 2.0, 0.5]
    other = [-1.0, 5.0, -2.0, 3.0]
    rows = [
        (1, "x", v), (2, "x", v), (3, "x", v),      # clones in x
        (4, "x", near),                              # near pair
        (5, "y", v),                                 # blocked by label
        (6, "x", [0.0, 0.0, 0.0, 0.0]),              # zero vector
        (7, "x", [0.0, 0.0, 0.0, 0.0]),              # identical zero
        (8, "x", other),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    got = {
        (r.a, r.b)
        for r in embedding_near_pairs(
            emb, threshold=0.4, collapse_exact=True
        ).collect()
    }
    want = {
        (r.a, r.b)
        for r in embedding_near_pairs(
            emb, threshold=0.4, collapse_exact=False
        ).collect()
    }
    assert got == want
    assert {(1, 2), (1, 3), (2, 3), (1, 4)} <= got
    assert not any(6 in p or 7 in p for p in got)
    assert not any(5 in p for p in got)


def test_clone_light_probe_memoized_per_plan(spark):
    """The clone-density probe memoizes per (plan semanticHash, key)
    (ADVICE r5): repeated generators over the same corpus scan once.
    A memo hit is cost-only by construction — collapsed and raw paths
    are output-identical — so asserting cache behavior here is the
    whole contract."""
    from vspace_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"unique text {i} tokens {i * 3}") for i in range(8)],
        "doc_id long, text string",
    )
    D._CLONE_LIGHT_MEMO.clear()
    first = D._clone_light(docs, "text")
    assert first is True  # all-unique corpus
    assert len(D._CLONE_LIGHT_MEMO) == 1
    # second probe over an equivalent plan: memo hit, no new entry,
    # same verdict
    assert D._clone_light(docs, "text") is True
    assert len(D._CLONE_LIGHT_MEMO) == 1
    # different key expression -> distinct memo slot
    assert D._clone_light(docs, "doc_id") is True
    assert len(D._CLONE_LIGHT_MEMO) == 2


def test_semantic_dedup_planted_duplicates(spark):
    """SemDeDup semantics on a planted fixture: verbatim and scaled
    copies (cosine 1.0) land in the same cell and the larger ids drop
    as duplicates of the smallest; orthogonal vectors keep. The greedy
    first-writer-wins chain marks EVERY larger member of a duplicate
    group with the group's min id, matching the oracle's min(a)."""
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.similarity import portable_hyperplanes

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    scaled = [2.0] + [0.0] * (dim - 1)  # same direction, cos = 1
    ortho = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [
        (1, base),
        (2, scaled),
        (3, base),
        (4, ortho),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            emb, portable_hyperplanes(dim, 16, salt="s"), threshold=0.95
        ).collect()
    }
    assert out[1].kept and out[1].duplicate_of is None
    assert not out[2].kept and out[2].duplicate_of == 1
    assert not out[3].kept and out[3].duplicate_of == 1
    assert out[4].kept and out[4].duplicate_of is None
    # same-direction vectors share a cell (identical distances order)
    assert out[1].cell == out[3].cell


def test_semantic_dedup_collapse_matches_raw(spark):
    """Exact-collapse prepass for semantic_dedup is output-identical
    to the raw path on a planted fixture with verbatim clone groups
    (incl. a clone of the cell's would-be keeper, a clone group whose
    canonical is itself dropped, a zero vector, and untouched
    singletons)."""
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.similarity import portable_hyperplanes

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    near = [0.98, 0.199] + [0.0] * (dim - 2)  # cos ~0.98 with base
    ortho = [0.0, 1.0] + [0.0] * (dim - 2)
    zero = [0.0] * dim
    rows = [
        (1, base),
        (2, base),        # clone of keeper
        (3, near),        # dropped via 1; its clones chain to 1
        (4, near),        # clone of a dropped canonical
        (5, ortho),
        (6, ortho),       # clone group elsewhere
        (7, zero),        # zero-norm: never pairs, always kept
        (8, [0.5] * dim), # singleton
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    centers = portable_hyperplanes(dim, 16, salt="s")
    raw = {
        tuple(r)
        for r in semantic_dedup(
            emb, centers, threshold=0.9, collapse_exact=False
        ).collect()
    }
    col = {
        tuple(r)
        for r in semantic_dedup(
            emb, centers, threshold=0.9, collapse_exact=True
        ).collect()
    }
    assert col == raw
    by_id = {t[0]: t for t in col}
    assert by_id[2][2] is False and by_id[2][3] == 1   # clone of keeper
    assert by_id[3][2] is False and by_id[3][3] == 1   # near-dup of 1
    assert by_id[4][2] is False and by_id[4][3] == 1   # chained clone
    assert by_id[6][2] is False and by_id[6][3] == 5
    assert by_id[7][2] is True and by_id[7][3] is None  # zero vector


def test_edit_distance_pairs_planted(spark):
    """Fuzzy pairs: planted near-strings within the distance budget
    pair up, cross-block twins never pair, the length-band prune
    excludes a same-block string within band |len| but far in edits,
    and distances are the exact Levenshtein values."""
    from pyspark.sql import functions as F

    from vspace_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "s1", "kitten and friends"),
        (2, "s1", "sitting and friends"),   # lev(kitten,sitting)=3 on prefix
        (3, "s2", "kitten and friends"),    # other block: never pairs with 1
        (4, "s1", "zzzzzzzzzzzzzzzzzz"),    # same len, all-different prefix
        (5, "s1", "kitten and friend"),     # 0-edit prefix twin of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.a, r.b): r.dist
        for r in edit_distance_pairs(
            docs, F.substring("text", 1, 16), block=["source"], max_dist=4
        ).collect()
    }
    # lev("kitten and frien", "sitting and frie") = 4: the 3 edits of
    # kitten→sitting plus the one-char tail shift the truncation causes
    assert got[(1, 5)] == 0          # identical 16-char prefixes
    assert got[(2, 5)] == got[(1, 2)] == 4
    assert not any(3 in p for p in got)   # block isolation
    assert not any(4 in p for p in got)   # edit distance > budget


def test_edit_distance_pairs_collapse_matches_raw(spark):
    """Exact-collapse prepass for edit_distance_pairs is
    output-identical to the raw path on planted clone groups (clones
    of a pairing key, clones of a non-pairing key, cross-block
    twins)."""
    from pyspark.sql import functions as F

    from vspace_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "s1", "kitten and friends"),
        (2, "s1", "kitten and friends"),    # clone of 1
        (3, "s1", "kitten and friendx"),    # clone group pairs with 1/2
        (4, "s1", "kitten and friendx"),
        (5, "s1", "zzzzzzzzzzzzzzzzzz"),    # far from everything
        (6, "s1", "zzzzzzzzzzzzzzzzzz"),    # ...but clone of 5
        (7, "s2", "kitten and friends"),    # other block
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    key = F.substring("text", 1, 16)
    raw = {
        tuple(r)
        for r in edit_distance_pairs(
            docs, key, block=["source"], max_dist=4, collapse_exact=False
        ).collect()
    }
    col = {
        tuple(r)
        for r in edit_distance_pairs(
            docs, key, block=["source"], max_dist=4, collapse_exact=True
        ).collect()
    }
    assert col == raw
    assert (1, 2, 0) in col and (5, 6, 0) in col   # intra-group zeros
    assert (1, 3, 0) in col  # 16-char prefixes identical here
    assert not any(7 in (a, b) for a, b, _ in col)


def test_semantic_dedup_arrow_agrees_with_fold(spark, sf_dir):
    """The Arrow/matmul engine (production path, rows-only) produces
    the IDENTICAL output to the oracle-checked fold engine on the
    fixture — cell assignments, keep flags, and duplicate_of all
    match (the fixture's cosines and centroid margins are far from
    the tie boundaries where BLAS order could flip a decision)."""
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.similarity import portable_hyperplanes

    emb = load_table(spark, sf_dir, "embeddings")
    centers = portable_hyperplanes(64, 16, salt="s")
    fold = {
        tuple(r)
        for r in semantic_dedup(
            emb, centers, threshold=0.4, engine="fold"
        ).collect()
    }
    arrow = {
        tuple(r)
        for r in semantic_dedup(
            emb, centers, threshold=0.4, engine="arrow"
        ).collect()
    }
    assert arrow == fold
    assert any(not kept for (_, _, kept, _) in fold)  # non-vacuous


def test_semantic_dedup_arrow_collapse_on_planted_clones(spark):
    """The arrow engine composes with the shared collapse prepass:
    planted verbatim clones come back dropped against their canonical
    with the closed-form duplicate_of, identical to the fold engine."""
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.similarity import portable_hyperplanes

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    near = [0.98, 0.199] + [0.0] * (dim - 2)
    rows = [(1, base), (2, base), (3, near), (4, near), (5, [0.0] * dim)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    centers = portable_hyperplanes(dim, 16, salt="s")
    fold = {
        tuple(r)
        for r in semantic_dedup(
            emb, centers, threshold=0.9, engine="fold"
        ).collect()
    }
    arrow = {
        tuple(r)
        for r in semantic_dedup(
            emb, centers, threshold=0.9, engine="arrow"
        ).collect()
    }
    assert arrow == fold
    by_id = {t[0]: t for t in arrow}
    assert by_id[2][3] == 1 and by_id[4][3] == 1
    assert by_id[5][2] is True  # zero vector kept


# ---------------------------------------------------------------------------
# Clone-probe memo contract (ADVICE r6): every _clone_light caller's
# collapsed path must be output-identical to its raw path (uncapped),
# because a stale or hash-collided memo verdict flips WHICH path runs —
# identity is what makes that cost-only. The registry test makes the
# invariant structural: a new caller fails CI until it registers an
# equality test here.
# ---------------------------------------------------------------------------


def _clone_heavy_corpus(spark):
    """Fixture dense enough in verbatim clones that the probe selects
    the collapse (distinct/total ≈ 0.3): two clone groups, a near-dup
    bridging into each, and singletons."""
    base = [f"w{i}" for i in range(30)]
    t1 = " ".join(base)
    t1_near = " ".join(w if i != 15 else "xx" for i, w in enumerate(base))
    t2 = " ".join(f"v{i}" for i in range(30))
    t2_near = " ".join(
        f"v{i}" if i != 7 else "yy" for i in range(30)
    )
    rows = (
        [(i, t1) for i in range(1, 6)]
        + [(6, t1_near)]
        + [(10 + i, t2) for i in range(5)]
        + [(16, t2_near)]
        + [(20, "solo alpha beta gamma delta unique text here")]
    )
    return arrow_frame(spark, rows, "doc_id long, text string")


def test_minhash_collapse_matches_raw_uncapped(spark):
    """minhash_lsh_pairs (xxhash64 and portable): without a bucket cap
    the collapsed and raw paths must emit identical (a, b, est_jaccard)
    sets — the output-identity invariant the clone probe relies on."""
    from vspace_spark.operators.dedup import minhash_lsh_pairs_portable

    corpus = _clone_heavy_corpus(spark)
    for fn, kw in [
        (minhash_lsh_pairs, dict(num_hashes=64, bands=16)),
        (minhash_lsh_pairs_portable, dict(num_hashes=32, bands=8)),
    ]:
        collapsed = {
            (r.a, r.b, round(r.est_jaccard, 9))
            for r in fn(corpus, collapse_exact=True, **kw).collect()
        }
        raw = {
            (r.a, r.b, round(r.est_jaccard, 9))
            for r in fn(corpus, collapse_exact=False, **kw).collect()
        }
        assert collapsed == raw, f"{fn.__name__}: {collapsed ^ raw}"
        # non-vacuous: clone intra-pairs AND a cross near-dup pair
        pairs = {(a, b) for a, b, _ in collapsed}
        assert {(1, 2), (1, 6)} <= pairs


def test_simhash_collapse_matches_raw_uncapped(spark):
    """simhash_near_pairs (64-bit and 60-bit portable): uncapped
    collapse/raw identity over (a, b, hamming)."""
    from vspace_spark.operators.dedup import simhash_near_pairs_portable

    corpus = _clone_heavy_corpus(spark)
    for fn in (simhash_near_pairs, simhash_near_pairs_portable):
        collapsed = {
            (r.a, r.b, r.hamming)
            for r in fn(corpus, collapse_exact=True).collect()
        }
        raw = {
            (r.a, r.b, r.hamming)
            for r in fn(corpus, collapse_exact=False).collect()
        }
        assert collapsed == raw, f"{fn.__name__}: {collapsed ^ raw}"
        assert {(1, 2), (10, 11)} <= {(a, b) for a, b, _ in collapsed}


# caller -> the test (in this module or test_properties.py) pinning
# collapsed/raw output identity for that caller's uncapped path
_CLONE_LIGHT_IDENTITY_TESTS = {
    "shingle_pairs_jaccard": (
        "test_jaccard_exact_collapse_matches_uncollapsed_oracle"
    ),
    # _minhash_lsh / _simhash_pairs are the shared skeletons behind
    # both hash twins; each identity test runs both twins
    "_minhash_lsh": "test_minhash_collapse_matches_raw_uncapped",
    "_simhash_pairs": "test_simhash_collapse_matches_raw_uncapped",
    "embedding_near_pairs": "test_embedding_collapse_matches_raw_pairs",
    "semantic_dedup": "test_semantic_dedup_collapse_matches_raw",
    # _edit_pairs is the collapse prologue the three edit-distance
    # generators share; each generator keeps an identity test of its
    # own, since each runs the prologue over its own key domain
    "_edit_pairs": "test_edit_distance_pairs_collapse_matches_raw",
    "edit_distance_pairs": "test_edit_distance_pairs_collapse_matches_raw",
    "qgram_edit_pairs": "test_qgram_edit_pairs_collapse_matches_raw",
    "dedup_keep_best": (
        "test_keep_best_exact_collapse_matches_uncollapsed_oracle"
    ),
    "passjoin_edit_pairs": "test_passjoin_collapse_matches_raw",
}


def test_every_clone_light_caller_has_identity_test():
    """Structural guard: AST-walk vspace_spark for _clone_light call
    sites; every enclosing function must appear in
    _CLONE_LIGHT_IDENTITY_TESTS, and every registered test must exist.
    A stale memo verdict only changes cost — never results — BECAUSE
    each caller's collapsed path is output-identical to its raw path;
    this test is what keeps that invariant load-bearing rather than
    assumed (ADVICE r6)."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "vspace_spark")
    callers = set()
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            tree = ast.parse(open(path).read())
            for node in ast.walk(tree):
                if not isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    continue
                for sub in ast.walk(node):
                    if (
                        isinstance(sub, ast.Call)
                        and getattr(sub.func, "id", "") == "_clone_light"
                    ):
                        callers.add(node.name)
    callers.discard("_clone_light")
    unregistered = callers - set(_CLONE_LIGHT_IDENTITY_TESTS)
    assert not unregistered, (
        f"_clone_light callers without a registered collapsed==raw "
        f"identity test: {sorted(unregistered)} — add the test and "
        f"register it in _CLONE_LIGHT_IDENTITY_TESTS"
    )
    here = open(__file__).read()
    props = open(
        os.path.join(os.path.dirname(__file__), "test_properties.py")
    ).read()
    for caller, test in _CLONE_LIGHT_IDENTITY_TESTS.items():
        assert f"def {test}(" in here or f"def {test}(" in props, (
            f"{caller}: registered identity test {test} does not exist"
        )


def test_minhash_and_simhash_pieces_are_defined_once():
    """Structural guard, same shape as the clone-probe guard: the md5
    seed hash, the per-seed MIN, the band-bucket element pick and the
    SimHash bit vote each occur ONCE under vspace_spark (the hash
    family and skeletons in operators/dedup.py). The batch twins, the
    incremental leg and the ingest stream produce the same pairs only
    while they share these definitions; a copy that drifts breaks the
    equality silently, so a second copy fails here."""
    import os
    import re

    patterns = {
        "md5 seed hash": r'F\.concat_ws\(":",F\.lit\(str\(',
        "per-seed MIN": r'F\.min\(f"_h\{i\}"\)',
        "band bucket": r"F\.element_at\([^,]+,b\*rows\+r\+1\)",
        "simhash vote": r'F\.shiftright\("_h",j\)',
    }
    counts = dict.fromkeys(patterns, 0)
    pkg = os.path.join(os.path.dirname(__file__), "..", "vspace_spark")
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                src = re.sub(r"\s+", "", open(os.path.join(root, f)).read())
                for name, pat in patterns.items():
                    counts[name] += len(re.findall(pat, src))
    assert counts == dict.fromkeys(patterns, 1), counts


def test_clear_clone_probe_memo(spark):
    """The public memo-clear hook empties the verdict cache so a
    long-lived session that re-stages data under an identical plan
    re-probes (ADVICE r6)."""
    from vspace_spark.operators.dedup import (
        _CLONE_LIGHT_MEMO,
        _clone_light,
        clear_clone_probe_memo,
    )

    corpus = _clone_heavy_corpus(spark)
    assert _clone_light(corpus, "text") is False  # clone-heavy
    assert len(_CLONE_LIGHT_MEMO) >= 1
    clear_clone_probe_memo()
    assert _CLONE_LIGHT_MEMO == {}


def test_semantic_dedup_arrow_rejects_non_integral_ids(spark):
    """engine='arrow' round-trips ids through int64; string ids must
    raise a clear TypeError up front instead of failing in a worker
    (or silently re-typing digit strings) — ADVICE r6."""
    import pytest

    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.similarity import portable_hyperplanes

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    centers = portable_hyperplanes(2, 4, salt="s")
    with pytest.raises(TypeError, match="integral"):
        semantic_dedup(emb, centers, engine="arrow")
    # fold path accepts the same frame
    assert semantic_dedup(emb, centers, engine="fold").count() == 2


def test_semantic_dedup_cell_size_bounded_under_k_prop_n(spark):
    """The K ∝ N contract (VERDICT r6 #4): growing the codebook with
    the corpus holds per-cell membership — and therefore the in-cell
    self-join's Σ|cell|² quadratic term — FLAT. Deterministic
    xxhash64-derived vectors, K = N/128 at two corpus sizes: every
    cell occupied, mean cell size exactly the 128 target, and the
    max cell stays bounded (calibrated ~210 = 1.6× target at BOTH
    scales) instead of growing 4× with the corpus the way fixed-K
    cells would."""
    from vspace_spark.operators.dedup import semantic_dedup
    from vspace_spark.operators.similarity import portable_hyperplanes

    target = 128
    maxes = {}
    for n in (2048, 8192):
        k = n // target
        vecs = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: (F.xxhash64(F.col("id"), i) % 1000).cast(
                    "float"
                )
                / 500.0,
            ).alias("embedding"),
        )
        out = semantic_dedup(
            vecs,
            portable_hyperplanes(16, k, salt="s"),
            threshold=0.99,
            engine="arrow",
        )
        sizes = [
            r["count"] for r in out.groupBy("cell").count().collect()
        ]  # bounded-collect: one row per cell (K rows)
        assert len(sizes) == k  # every cell occupied
        assert sum(sizes) == n
        maxes[n] = max(sizes)
        assert maxes[n] <= 4 * target, (
            f"n={n}: max cell {maxes[n]} > 4x the {target} target"
        )
    # the largest cell must not scale with the corpus: fixed-K would
    # quadruple it here, K prop N keeps it flat (within noise)
    assert maxes[8192] <= 1.5 * maxes[2048], maxes


def test_qgram_edit_pairs_matches_exhaustive(spark, sf_dir):
    """qgram_edit_pairs (inverted positional q-gram index + count
    filter + levenshtein verify) must emit exactly the pairs the
    block-exhaustive edit_distance_pairs does whenever keys sit in the
    guarantee domain max(len) >= q*(k+1) — the count-filter bound is a
    sound lower bound, so candidates are a superset and the verify
    stage trims to equality. Two parameterizations: the registered
    query's (q=2, k=6, 16-char keys) and a more selective one
    (q=3, k=3, 32-char keys)."""
    from vspace_spark.operators.dedup import (
        edit_distance_pairs,
        qgram_edit_pairs,
    )

    docs16 = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 16
    )
    docs32 = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 32
    )
    for docs, plen, q, k in [(docs16, 16, 2, 6), (docs32, 32, 3, 3)]:
        key = F.substring("text", 1, plen)
        got = {
            (r.a, r.b, r.dist)
            for r in qgram_edit_pairs(docs, key, q=q, max_dist=k).collect()
        }
        want = {
            (r.a, r.b, r.dist)
            for r in edit_distance_pairs(docs, key, max_dist=k).collect()
        }
        assert got == want, (
            f"plen={plen} q={q} k={k}: {got ^ want}"
        )
        assert len(got) > 0  # non-vacuous at every sf


def test_qgram_edit_pairs_collapse_matches_raw(spark):
    """qgram_edit_pairs routes through the shared exact-collapse
    prepass (probe-gated): collapsed and raw paths must be
    output-identical on a clone-heavy fixture — the invariant the
    clone-probe memo relies on (see _CLONE_LIGHT_IDENTITY_TESTS)."""
    from vspace_spark.operators.dedup import qgram_edit_pairs

    # clone-heavy: two groups of identical 20-char keys + near keys,
    # PLUS a clone group whose key length < q (the raw path drops
    # those docs at the length(_k) >= q filter; the collapse branch
    # must share that domain or it emits intra-group dist-0 pairs the
    # raw path never produces — ADVICE r7)
    rows = (
        [(i, "alpha beta gamma del", "s") for i in range(1, 6)]
        + [(6, "alpha beta gamma dXl", "s")]
        + [(10 + i, "omega psi chi phi up", "s") for i in range(4)]
        + [(20, "totally different te", "s")]
        + [(30 + i, "x", "s") for i in range(3)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    key = F.substring("text", 1, 20)
    collapsed = {
        (r.a, r.b, r.dist)
        for r in qgram_edit_pairs(
            docs, key, q=2, max_dist=4, collapse_exact=True
        ).collect()
    }
    raw = {
        (r.a, r.b, r.dist)
        for r in qgram_edit_pairs(
            docs, key, q=2, max_dist=4, collapse_exact=False
        ).collect()
    }
    assert collapsed == raw, collapsed ^ raw
    pairs = {(a, b) for a, b, _ in collapsed}
    assert {(1, 2), (1, 6), (10, 11)} <= pairs


def test_qgram_hot_gram_guard_identity(spark):
    """hot_gram_cap is a RECALL-SAFE skew guard: with a planted
    over-cap gram ("zz" carried by 8 otherwise-unrelated keys), the
    guarded path must emit exactly the unguarded and block-exhaustive
    outputs. The fixture forces work through every lane: a both-hot
    near pair (exhaustive hot lane), a hot×cold pair (index lane with
    a hot member — all its matching grams are under-cap by the
    cold-key argument in the operator docstring), and a cold×cold
    pair (pure index lane). Pure-python occupancy recomputation pins
    the planted hot set so the test cannot go vacuous."""
    from collections import Counter

    from vspace_spark.operators.dedup import (
        edit_distance_pairs,
        qgram_edit_pairs,
    )

    q, k, cap = 2, 3, 4
    rows = [
        # "zz" carriers: unrelated 12-char keys, every other gram rare
        (1, "abzzcdefghij", "s"),
        (2, "klzzmnopqrst", "s"),
        (3, "uvzzwxyzabcd", "s"),
        (4, "eezzffgghhii", "s"),
        (5, "jjzzkkllmmnn", "s"),
        # both-hot near pair (dist 1) -> exhaustive hot lane
        (6, "AABBzzCCDDEE", "s"),
        (7, "AABBzzCCDDEF", "s"),
        # hot x cold near pair (dist 2) -> index lane, hot member
        (8, "qrstuvwzzxwv", "s"),
        (20, "qrstuvwqyxwv", "s"),
        # cold x cold near pair (dist 1) -> pure index lane
        (21, "bcdefghijklm", "s"),
        (22, "bcdefghijklQ", "s"),
    ]
    occ = Counter()
    for _, t, _ in rows:
        for i in range(len(t) - q + 1):
            occ[t[i : i + q]] += 1
    hot_grams = {g for g, c in occ.items() if c > cap}
    assert hot_grams == {"zz"}, hot_grams
    hot_keys = {
        i
        for i, t, _ in rows
        if any(
            t[j : j + q] in hot_grams for j in range(len(t) - q + 1)
        )
    }
    assert hot_keys == {1, 2, 3, 4, 5, 6, 7, 8}, hot_keys

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    key = F.col("text")
    as_set = lambda df: {(r.a, r.b, r.dist) for r in df.collect()}
    guarded = as_set(
        qgram_edit_pairs(docs, key, q=q, max_dist=k, hot_gram_cap=cap)
    )
    unguarded = as_set(qgram_edit_pairs(docs, key, q=q, max_dist=k))
    exhaustive = as_set(edit_distance_pairs(docs, key, max_dist=k))
    assert guarded == exhaustive, guarded ^ exhaustive
    assert unguarded == exhaustive, unguarded ^ exhaustive
    # one pair per lane actually present
    assert {(6, 7, 1), (8, 20, 2), (21, 22, 1)} <= guarded, guarded


def test_semantic_dedup_two_level_planted_and_routing(spark):
    """The trained two-level lane (semantic_dedup_two_level): on a
    well-separated clustered fixture (8 clusters × 50 pts, 16-d) with
    four planted near-identical copies, (a) exactly the planted
    duplicates are marked, each against its original; (b) invariants
    hold (kept ⇔ duplicate_of IS NULL, one row per vector); (c) the
    two-level router agrees with the flat argmin over the SAME
    trained fine centers on ≥98% of vectors — the property the r7
    fixed-codebook rejection showed a RANDOM codebook cannot provide
    (0.21–0.75 routing recall) and training restores."""
    import numpy as np

    from vspace_spark.operators.dedup import (
        _semantic_dedup_arrow_raw,
        hierarchical_codebook,
        semantic_dedup_two_level,
    )

    rng = np.random.default_rng(3)
    cents = rng.normal(0, 10, (8, 16))
    rows, vid = [], 0
    for c in range(8):
        for _ in range(50):
            v = cents[c] + rng.normal(0, 0.1, 16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for j in [5, 77, 200, 350]:
        v = np.array(rows[j][1]) * 1.000001
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = semantic_dedup_two_level(
        df, k=16, threshold=0.999999, collapse_exact=False
    ).collect()
    assert len(out) == len(rows)
    dups = {r.vec_id: r.duplicate_of for r in out if not r.kept}
    assert dups == {400: 5, 401: 77, 402: 200, 403: 350}, dups
    for r in out:
        assert r.kept == (r.duplicate_of is None)

    fine, coarse, owner = hierarchical_codebook(df, 16)
    assert len(coarse) >= 2 and len(owner) == len(fine)
    assert set(owner) == set(range(len(coarse)))  # every coarse owns
    flat = {
        r.vec_id: r.cell
        for r in _semantic_dedup_arrow_raw(
            df, fine, "vec_id", "embedding", 0.9999
        ).collect()
    }
    two = {
        r.vec_id: r.cell
        for r in _semantic_dedup_arrow_raw(
            df, fine, "vec_id", "embedding", 0.9999, (coarse, owner)
        ).collect()
    }
    agree = sum(flat[i] == two[i] for i in flat) / len(flat)
    assert agree >= 0.98, agree


def test_semantic_dedup_coarse_validated_before_any_spark_work(spark):
    """ADVICE r8: a malformed user-supplied ``coarse`` must fail
    driver-side with an actionable ValueError — not an opaque numpy
    crash in an executor — and incompatible engine/coarse combinations
    must raise BEFORE the _clone_light probe or collapse plan runs
    (asserted via a DataFrame whose evaluation would itself blow up:
    validation passing through any Spark job would surface that
    error instead of the expected one)."""
    import pytest

    from vspace_spark.operators.dedup import semantic_dedup

    # evaluating this frame raises (explode of a non-array); reaching
    # any Spark action before validation would error differently
    poison = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    c2 = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(ValueError, match="arrow-engine only"):
        semantic_dedup(
            poison, c2, engine="fold", coarse=(c2, [0, 1]),
            collapse_exact=True,
        )
    with pytest.raises(ValueError, match="unknown engine"):
        semantic_dedup(poison, c2, engine="numpy")
    with pytest.raises(ValueError, match="one owner per center"):
        semantic_dedup(
            poison, c2, engine="arrow", coarse=(c2, [0]),
        )
    with pytest.raises(ValueError, match="indices must be in"):
        semantic_dedup(
            poison, c2, engine="arrow", coarse=(c2, [0, 5]),
        )
    with pytest.raises(ValueError, match="own none"):
        # coarse center 1 owns zero fine centers — the exact
        # executor-side argmin-over-empty-axis crash shape
        semantic_dedup(
            poison, c2, engine="arrow", coarse=(c2, [0, 0]),
        )


def test_hierarchical_codebook_counts_unsized_inputs(spark):
    """ADVICE r8: when the input has no parquet footer (in-memory
    frame) the sample sizing falls back to one count() and the
    hash-modulus thinning still applies — the sample must NOT be a
    bare first-partitions limit() on data physically clustered by
    group. Planted: 4 well-separated clusters each confined to its
    own partition range; a biased first-partitions sample would train
    all centers inside 1-2 clusters and collapse the rest into shared
    cells."""
    import numpy as np

    from vspace_spark.operators.dedup import hierarchical_codebook

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for g in range(4):
        base = np.zeros(8)
        base[2 * g] = 10.0
        for _ in range(600):
            v = base + rng.normal(0, 0.05, 8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # 4 partitions, data ordered by cluster → partition ~ cluster
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartitionByRange(4, "vec_id")
    fine, coarse, owner = hierarchical_codebook(
        df, k=8, sample_rows=400, iters=4
    )
    C = np.asarray(fine)
    # every planted cluster center must have a trained center nearby —
    # a first-partitions sample would miss later clusters entirely
    for g in range(4):
        base = np.zeros(8)
        base[2 * g] = 10.0
        d = np.sqrt(((C - base) ** 2).sum(1)).min()
        assert d < 1.0, f"cluster {g} unrepresented (nearest {d:.2f})"


def test_passjoin_matches_exhaustive_all_lengths(spark, sf_dir):
    """passjoin_edit_pairs must emit exactly the block-exhaustive
    edit_distance_pairs output with NO length floor on the input —
    the pigeonhole segment lemma covers every key length (short keys
    take the residual banded lane), unlike the q-gram count bound.
    Run on the fixture corpus (mixed real lengths) at two k."""
    from vspace_spark.operators.dedup import (
        edit_distance_pairs,
        passjoin_edit_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    for plen, k in [(16, 4), (12, 2)]:
        key = F.substring("text", 1, plen)
        got = {
            (r.a, r.b, r.dist)
            for r in passjoin_edit_pairs(docs, key, max_dist=k).collect()
        }
        want = {
            (r.a, r.b, r.dist)
            for r in edit_distance_pairs(docs, key, max_dist=k).collect()
        }
        assert got == want, f"plen={plen} k={k}: {got ^ want}"
        assert len(got) > 0


def test_passjoin_matches_qgram_on_qgram_domain(spark, sf_dir):
    """On the q-gram guarantee domain (max(len) >= q*(k+1)) the two
    first-class generators must be byte-identical — VERDICT r8 #5's
    acceptance test."""
    from vspace_spark.operators.dedup import (
        passjoin_edit_pairs,
        qgram_edit_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 16
    )
    key = F.substring("text", 1, 16)
    pj = {
        (r.a, r.b, r.dist)
        for r in passjoin_edit_pairs(docs, key, max_dist=4).collect()
    }
    qg = {
        (r.a, r.b, r.dist)
        for r in qgram_edit_pairs(docs, key, q=3, max_dist=4).collect()
    }
    assert pj == qg, pj ^ qg
    assert len(pj) > 0


def test_passjoin_collapse_matches_raw(spark):
    """passjoin_edit_pairs routes through the shared exact-collapse
    prepass (probe-gated): collapsed and raw paths must be
    output-identical on a clone-heavy fixture INCLUDING sub-(k+1)
    short-key clone groups (the raw path emits their dist-0 pairs
    through the residual banded lane, so — unlike qgram — the
    collapse domain keeps them)."""
    from vspace_spark.operators.dedup import passjoin_edit_pairs

    rows = (
        [(i, "alpha beta gamma del", "s") for i in range(1, 6)]
        + [(6, "alpha beta gamma dXl", "s")]
        + [(10 + i, "omega psi chi phi up", "s") for i in range(4)]
        + [(20, "totally different te", "s")]
        # short clone group (len 1 < k+1): residual-lane territory
        + [(30 + i, "x", "s") for i in range(3)]
        # short near pair (len 2 vs 1)
        + [(40, "xy", "s")]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    key = F.substring("text", 1, 20)
    collapsed = {
        (r.a, r.b, r.dist)
        for r in passjoin_edit_pairs(
            docs, key, max_dist=4, collapse_exact=True
        ).collect()
    }
    raw = {
        (r.a, r.b, r.dist)
        for r in passjoin_edit_pairs(
            docs, key, max_dist=4, collapse_exact=False
        ).collect()
    }
    assert collapsed == raw, collapsed ^ raw
    pairs = {(a, b) for a, b, _ in collapsed}
    # short clones pair at dist 0, and bridge to "xy" at dist 1
    assert {(1, 2), (1, 6), (10, 11), (30, 31), (30, 40)} <= pairs


def _dense_gram_fixture(spark, n=4000):
    """16-char keys over {a,c,g,t} (scripts/passjoin_bench.py's dense
    regime): every 3-gram bucket holds ~n/64 keys — no cold grams."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("s").alias("source"),
        F.concat_ws(
            "",
            *[
                F.element_at(
                    F.array(*[F.lit(c) for c in "acgt"]),
                    (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(4)) + 1)
                    .cast("int"),
                )
                for i in range(16)
            ],
        ).alias("text"),
    )
    edits = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + n).alias("doc_id"),
        "source",
        F.concat(
            F.substring("text", 1, 7), F.lit("x"), F.substring("text", 9, 8)
        ).alias("text"),
    )
    return base.unionByName(edits)


def _sparse_gram_fixture(spark, n=4000):
    """16-char base-36 hash keys — near-singleton 3-gram buckets, the
    regime where the count filter's cheaper index wins."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("s").alias("source"),
        F.substring(
            F.concat(
                F.conv(F.hex(F.xxhash64("id", F.lit(0))), 16, 36),
                F.conv(F.hex(F.xxhash64("id", F.lit(1))), 16, 36),
            ),
            1,
            16,
        ).alias("text"),
    )
    edits = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + n).alias("doc_id"),
        "source",
        F.concat(
            F.substring("text", 1, 7), F.lit("!"), F.substring("text", 9, 8)
        ).alias("text"),
    )
    return base.unionByName(edits)


def test_fuzzy_pairs_auto_routes_by_occupancy(spark, monkeypatch):
    """VERDICT r9 #4 acceptance: the occupancy probe routes each
    planted regime to its MEASURED winner (PERF.md round 9 — PassJoin
    4.7x on dense grams, qgram on cold buckets), and the router's
    output is byte-identical to BOTH generators on the shared
    exactness domain."""
    import vspace_spark.operators.dedup as dd

    dense = _dense_gram_fixture(spark)
    sparse = _sparse_gram_fixture(spark)

    p_dense = dd.gram_occupancy_probe(dense, F.col("text"), q=3)
    p_sparse = dd.gram_occupancy_probe(sparse, F.col("text"), q=3)
    # dense: every bucket ~n/64 keys (occ ~875 at n=4000); sparse:
    # near-singleton buckets. Both sit far from the measured cutoff
    # (DENSE_OCC_CUTOFF, r11 calibration), so the assertion is about
    # the regimes, not a knife-edge constant.
    assert p_dense["mean_occ"] >= dd.DENSE_OCC_CUTOFF, p_dense
    assert p_sparse["mean_occ"] < dd.DENSE_OCC_CUTOFF, p_sparse

    picked: list[str] = []
    real_pj, real_qg = dd.passjoin_edit_pairs, dd.qgram_edit_pairs

    def spy_pj(*a, **kw):
        picked.append("passjoin")
        return real_pj(*a, **kw)

    def spy_qg(*a, **kw):
        picked.append("qgram")
        return real_qg(*a, **kw)

    monkeypatch.setattr(dd, "passjoin_edit_pairs", spy_pj)
    monkeypatch.setattr(dd, "qgram_edit_pairs", spy_qg)

    key = F.col("text")
    auto_dense = {
        (r.a, r.b, r.dist)
        for r in dd.fuzzy_pairs_auto(
            dense, key, block=["source"], q=3, max_dist=3
        ).collect()
    }
    auto_sparse = {
        (r.a, r.b, r.dist)
        for r in dd.fuzzy_pairs_auto(
            sparse, key, block=["source"], q=3, max_dist=3
        ).collect()
    }
    assert picked == ["passjoin", "qgram"], picked

    for fixture, auto in ((dense, auto_dense), (sparse, auto_sparse)):
        pj = {
            (r.a, r.b, r.dist)
            for r in real_pj(
                fixture, key, block=["source"], max_dist=3
            ).collect()
        }
        qg = {
            (r.a, r.b, r.dist)
            for r in real_qg(
                fixture, key, block=["source"], q=3, max_dist=3
            ).collect()
        }
        assert auto == pj == qg, (len(auto), len(pj), len(qg))
        assert len(auto) > 0

@pytest.mark.slow  # >20 s (measured r14): driver verify-window budget
def test_two_level_router_nprobe_all_equals_flat(spark):
    """coarse_nprobe identity (round 13): probing EVERY coarse
    cluster makes the two-level router argmin over the union of all
    fine members = the flat argmin over all fine centers — cell
    assignments must match EXACTLY (same distances, same
    lowest-index tie convention via nearest-probe-first ordering).
    Also pins the monotone recall direction that motivated the knob:
    nprobe=2's assignments agree with flat at least as often as
    nprobe=1's (scripts/trained_router_recall_probe.py measured
    0.829 -> 0.937 -> 1.000 duplicate-edge recall at sf0.1)."""
    import numpy as np

    from vspace_spark.operators.dedup import (
        _semantic_dedup_arrow_raw,
        hierarchical_codebook,
    )

    rng = np.random.default_rng(11)
    # overlapping clusters: boundary vectors exist, so nprobe matters
    cents = rng.normal(0, 2.0, (6, 12))
    rows = [
        (
            i,
            [
                float(x)
                for x in cents[i % 6] + rng.normal(0, 1.2, 12)
            ],
        )
        for i in range(360)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    fine, coarse, owner = hierarchical_codebook(df, 12)

    def cells(coarse_arg, nprobe):
        return {
            r.vec_id: r.cell
            for r in _semantic_dedup_arrow_raw(
                df, fine, "vec_id", "embedding", 0.9999,
                coarse_arg, coarse_nprobe=nprobe,
            ).collect()
        }

    flat = cells(None, 1)
    all_probe = cells((coarse, owner), len(coarse))
    assert all_probe == flat

    one, two = cells((coarse, owner), 1), cells((coarse, owner), 2)
    a1 = sum(one[i] == flat[i] for i in flat)
    a2 = sum(two[i] == flat[i] for i in flat)
    assert a2 >= a1


def test_agree_semantic_gate_counts_planted_disagreement(
    spark, sf_dir, monkeypatch
):
    """Round-13 short-circuit regression: `agree_dedup_semantic_fast`
    skips its ε-ambiguity scans when the lane diff is EMPTY — this
    pins that a REAL lane disagreement still reaches the non-empty
    path and is counted (the short-circuit must never swallow one).
    A clear-margin row's keep flag is flipped on the arrow lane only;
    the fixture's ambiguity sets are empty, so both bag-diff rows for
    that vector must survive the anti-join and be counted."""
    import vspace_spark.operators.dedup as dd
    from vspace_spark.queries.agreement import agree_dedup_semantic_fast

    real = dd.semantic_dedup
    flip_id = (
        load_table(spark, sf_dir, "embeddings")
        .agg(F.min("vec_id"))
        .first()[0]
    )

    def perturbed(embeddings, centers, *args, **kwargs):
        out = real(embeddings, centers, *args, **kwargs)
        if kwargs.get("engine") == "arrow":
            out = out.withColumn(
                "kept",
                F.when(
                    F.col("vec_id") == F.lit(flip_id), ~F.col("kept")
                ).otherwise(F.col("kept")),
            )
        return out

    # Fixture preconditions, checked with the gate's own ε definitions
    # (ADVICE r13): the expected count of 2 silently assumed the
    # fixture has no centroid ε-ties and no within-cell pair of
    # flip_id's cell within 1e-9 of the 0.4 threshold — a regenerated
    # fixture violating either would make the gate FORGIVE the planted
    # flip and fail the final assert confusingly. Fail HERE with a
    # clear message instead.
    from vspace_spark.operators.scale import footer_row_count
    from vspace_spark.operators.similarity import (
        nearest_cells,
        portable_hyperplanes,
    )
    from vspace_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    n = footer_row_count(emb) or emb.count()
    centers = portable_hyperplanes(64, max(16, n // 512), salt="s")
    ranked = nearest_cells(F.col("embedding"), centers)
    assigned = emb.select(
        "vec_id",
        "embedding",
        ranked[0]["cell"].alias("cell"),
        (ranked[1]["dist"] - ranked[0]["dist"]).alias("_gap"),
    )
    n_center_ties = assigned.filter(F.col("_gap") <= 1e-9).count()
    assert n_center_ties == 0, (
        f"fixture drifted: {n_center_ties} vectors have ε-tied top-2 "
        "centroids — the gate may forgive the planted flip; regenerate "
        "or re-pick flip_id"
    )
    flip_cell = assigned.filter(
        F.col("vec_id") == F.lit(flip_id)
    ).first()["cell"]
    mem = assigned.filter(F.col("cell") == F.lit(flip_cell))
    la = mem.select(
        F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va")
    )
    lb = mem.select(
        F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb")
    )
    n_thresh_ties = (
        la.crossJoin(lb)
        .filter(F.col("_ia") < F.col("_ib"))
        .withColumn(
            "_cos", cosine_similarity(F.col("_va"), F.col("_vb"))
        )
        .filter(F.abs(F.col("_cos") - F.lit(0.4)) <= 1e-9)
        .count()
    )
    assert n_thresh_ties == 0, (
        f"fixture drifted: {n_thresh_ties} pairs in flip_id's cell sit "
        "within ε of the 0.4 threshold — the gate may forgive the "
        "planted flip; regenerate or re-pick flip_id"
    )

    monkeypatch.setattr(dd, "semantic_dedup", perturbed)
    got = agree_dedup_semantic_fast(spark, sf_dir).first()[0]
    assert got == 2, got  # one row in each exceptAll direction


def test_semantic_trained_pinned_pairs_sf0001(spark, sf_dir):
    """VALUE-LEVEL pin for `dedup_semantic_trained` (VERDICT r13 #4):
    the trained lane is rows-only (no SQL oracle — k-means centers are
    float-accumulation-order dependent), so commit d25d81f's
    coarse_nprobe 1→2 recall fix changed its output pair set with only
    a structural gate watching. This fixture freezes the
    (vec_id, kept, duplicate_of) output at sf0.001 so the next
    "optimization" cannot move the pair set silently — a legitimate
    semantic change must regenerate tests/data/semantic_trained_sf0001
    .json and say why. (Environment caveat: the trained centers depend
    on numpy/BLAS summation order; a BLAS swap that flips the output
    should fail HERE, loudly, which is the point.)"""
    import json
    import os

    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("fixture is pinned at sf0.001")
    from vspace_spark.operators.dedup import semantic_dedup_two_level
    from vspace_spark.operators.scale import footer_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    n = footer_row_count(emb) or emb.count()
    out = semantic_dedup_two_level(emb, k=max(16, n // 512), threshold=0.4)
    got = {
        str(r["vec_id"]): [r["kept"], r["duplicate_of"]]
        for r in out.select("vec_id", "kept", "duplicate_of").collect()
    }
    fixture = os.path.join(
        os.path.dirname(__file__), "data", "semantic_trained_sf0001.json"
    )
    want = json.loads(open(fixture).read())
    assert got == want, (
        "dedup_semantic_trained output drifted from the pinned sf0.001 "
        "fixture: "
        f"{sum(1 for k in got if got[k] != want.get(k))} rows differ, "
        f"{len(set(want) - set(got))} missing, "
        f"{len(set(got) - set(want))} extra"
    )


def _trained_router_recall(spark, sf_dir: str) -> None:
    """The two-level router must retain >= 0.93 of the flat argmin's
    duplicate edges over the SAME trained codebook on ``sf_dir``'s
    embeddings (the bound behind the coarse_nprobe=2 default)."""
    from vspace_spark.operators.dedup import (
        hierarchical_codebook,
        semantic_dedup,
    )
    from vspace_spark.operators.scale import footer_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    n = footer_row_count(emb) or emb.count()
    k = max(16, n // 512)
    fine, coarse_centers, owner = hierarchical_codebook(emb, k)

    def edges(coarse):
        return {
            (r["vec_id"], r["duplicate_of"])
            for r in semantic_dedup(
                emb,
                fine,
                threshold=0.4,
                collapse_exact=False,
                engine="arrow",
                coarse=coarse,
            )
            .filter(F.col("duplicate_of").isNotNull())
            .collect()
        }

    flat = edges(None)
    router = edges((coarse_centers, owner))
    assert flat, "fixture drifted: flat lane found no duplicate edges"
    recall = len(router & flat) / len(flat)
    assert recall >= 0.93, (
        f"two-level router recall vs flat dropped to {recall:.3f} "
        f"({len(router & flat)}/{len(flat)} edges) — below the 0.93 "
        "bound the coarse_nprobe=2 default was adopted for"
    )


def test_semantic_trained_recall_vs_flat_sf001(spark, sf_dir):
    """Default-suite twin of the sf0.1 recall test below: the same
    bound on sf0.01 (27 flat edges and recall 1.0 when this twin was
    added), so the flat and two-level paths through the one Arrow cell
    assigner stay checked on every run."""
    sibling = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    _trained_router_recall(spark, sibling)


@pytest.mark.slow
def test_semantic_trained_recall_vs_flat_sf01(spark, sf_dir):
    """The recall bound behind the coarse_nprobe=2 default (VERDICT
    r13 #4, measured 0.937 vs 0.829 at nprobe=1 in
    scripts/trained_router_recall_probe.py) on the sf0.1 embeddings.
    Makes the router default load-bearing instead of folklore — a
    routing change that quietly drops recall fails here."""
    sibling = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    _trained_router_recall(spark, sibling)


def test_arrow_planted_frames_keep_the_row_list_schema(spark):
    """The planted-dup and clone fixtures, built through Arrow, have the
    schema their tuple-list forms had."""
    schema = "doc_id long, text string"
    rows = _FIXED_CASE[0]
    assert arrow_frame(spark, rows, schema).schema == spark.createDataFrame(
        rows, schema
    ).schema
    for frame in (_degenerate_corpus(spark), _clone_heavy_corpus(spark)):
        assert frame.schema == spark.createDataFrame([], schema).schema
