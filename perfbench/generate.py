"""Seeded input generator and ground truth for the three benchmark
workloads.

Everything is derived from ``numpy.random.default_rng(seed)`` streams,
so one seed always yields byte-identical files. The program under test
only ever sees the input files; the ground truth is computed here in
pure Python / numpy, independently of Spark:

- ``corpus_job``: the reference's five INI-job inputs (sentinel-
  delimited corpus, index2doc TSV, src2sub map, phrases, collections)
  plus the expected ``global_stats`` / ``source_stats`` rows from a
  ``collections.Counter`` re-implementation of the job's semantics.
- ``incremental_dedup``: a document table with planted near-duplicate
  pairs, the planted pair list, and the exact pair set the md5 MinHash
  LSH contract must emit (signatures recomputed with ``hashlib``).
- ``vector_search``: a clustered embedding corpus, query batches and
  the exact numpy cosine top-k of every query.

Output is cached per (workload, seed, scale, version of this file) under
``perfbench/_cache``; a directory is only trusted once its ``DONE``
marker exists.

Run ``python3 perfbench/generate.py --workload corpus_job --seed 1`` to
(re)build one directory and print its path.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_cache")

# Copied, not imported, from the program (vspace_spark.io.sources and
# functions.text): the generator must not depend on the code it checks.
RECORD_DELIMITER = ("nferstopword " * 15).strip()
DOCID_RE = re.compile(r"^nferdoccount_[0-9]+$")
WORD_RE = re.compile(r"[a-zA-Z0-9_]+")

# Input sizes. They are recorded in BENCHMARK.json; change both together.
CORPUS_DOCS = 600
CORPUS_MAXNGRAMS = 3
DEDUP_DOCS = 400
DEDUP_PLANTED = 40
DEDUP_BATCHES = 20
VEC_CORPUS = 2000
VEC_DIM = 32
VEC_QUERIES = 50
VEC_BATCHES = 2
TOP_K = 10

# Library defaults of incremental_minhash_dedup that define its output.
SHINGLE_N = 3
NUM_HASHES = 32
BANDS = 8
MIN_AGREE = 16

_SYLLABLES = [
    c + v
    for c in "bdfgklmnprstvz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so resizing one input never
    shifts another's random draws."""
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([int(seed), key])


def _words(rng: np.random.Generator, n: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_p(n: int, a: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(text)


# --------------------------------------------------------------------------
# corpus_job
# --------------------------------------------------------------------------

def _corpus_docs(seed: int, n_docs: int) -> list[str]:
    rng = _rng(seed, "corpus.docs")
    vocab = _words(rng, 1500)
    p = _zipf_p(len(vocab))
    docs = []
    for i in range(n_docs):
        n = int(rng.integers(40, 120))
        toks = [vocab[j] for j in rng.choice(len(vocab), n, p=p)]
        # punctuation and case for the normalizer to strip
        toks[0] = toks[0].capitalize()
        for j in rng.integers(1, n, max(1, n // 15)):
            toks[j] = toks[j] + ","
        # the reference's synthetic per-document counter token
        docs.append(f"nferdoccount_{i} " + " ".join(toks) + ".")
    return docs


def _normalize(text: str) -> list[str]:
    return WORD_RE.findall(text.lower())


def _grams(tokens: list[str], max_n: int) -> list[str]:
    out = []
    for n in range(1, max_n + 1):
        out.extend(
            " ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)
        )
    return out


def corpus_reference(
    docs: list[str],
    doc_subsource: list[str],
    src2sub: dict[str, list[str]],
    vocabulary: set[str],
    max_n: int,
) -> tuple[list[tuple], list[tuple], int, int]:
    """Pure-Python statement of the job's stats semantics.

    Returns (global rows, source rows, n-grams emitted, n-grams passing
    the vocabulary gate). Rows are ``(token, df, tf, tdsum)`` and
    ``(token, source, df, tf, tdsum)``: df counts (doc[, source]) rows
    containing the token, tf sums per-doc counts, tdsum sums the word
    counts of the docs containing the token. Unigrams always pass the
    gate, multi-grams only when in the vocabulary, and the synthetic
    ``nferdoccount_N`` token never does."""
    sources_of: dict[str, list[str]] = defaultdict(list)
    for src, subs in src2sub.items():
        for s in subs:
            sources_of[s].append(src)
    glob: dict[str, list[int]] = {}
    by_src: dict[tuple[str, str], list[int]] = {}
    emitted = passed = 0
    for text, sub in zip(docs, doc_subsource):
        tokens = _normalize(text)
        wc = len(tokens)
        grams = [g for g in _grams(tokens, max_n) if not DOCID_RE.match(g)]
        emitted += len(grams)
        tf = Counter(g for g in grams if " " not in g or g in vocabulary)
        passed += sum(tf.values())
        for tok, c in tf.items():
            row = glob.setdefault(tok, [0, 0, 0])
            row[0] += 1
            row[1] += c
            row[2] += wc
            for src in sources_of.get(sub, ()):
                srow = by_src.setdefault((tok, src), [0, 0, 0])
                srow[0] += 1
                srow[1] += c
                srow[2] += wc
    g_rows = sorted((t, *v) for t, v in glob.items())
    s_rows = sorted((t, s, *v) for (t, s), v in by_src.items())
    return g_rows, s_rows, emitted, passed


def _gen_corpus(seed: int, out: str, scale: float) -> None:
    n_docs = max(20, int(CORPUS_DOCS * scale))
    rng = _rng(seed, "corpus.meta")
    docs = _corpus_docs(seed, n_docs)
    # documents separated by the sentinel on its own line, the layout
    # the reference's Hadoop record-delimiter reader consumes
    _write(os.path.join(out, "corpus.txt"), f"\n{RECORD_DELIMITER}\n".join(docs))

    # six subsources with skewed sizes; sub2 fans out to two sources
    # and sub5 maps to none (dropped by the inner join)
    subs = [f"sub{i}" for i in range(6)]
    doc_sub = [subs[i] for i in rng.choice(6, n_docs, p=_zipf_p(6, 0.8))]
    src2sub = {
        "src0": ["sub0", "sub1", "sub2"],
        "src1": ["sub2", "sub3"],
        "src2": ["sub4"],
    }
    _write(
        os.path.join(out, "index.tsv"),
        "".join(
            f"{i}\thttp://doc/{i}\t{s}\t{2000 + i % 20}\tm1\tt{i}\ta{i % 7}"
            f"\tm2\tm3\tm4\n"
            for i, s in enumerate(doc_sub)
        ),
    )
    _write(
        os.path.join(out, "src2sub.txt"),
        "".join(f"{k} {','.join(v)}\n" for k, v in src2sub.items()),
    )

    # vocabulary: multi-grams drawn from the corpus (so the gate has
    # work to pass) plus some that never occur
    grams = sorted(
        {
            g
            for d in docs
            for g in _grams(_normalize(d), CORPUS_MAXNGRAMS)
            if " " in g and not any(DOCID_RE.match(t) for t in g.split())
        }
    )
    pick = rng.choice(len(grams), min(len(grams), 400 + n_docs), replace=False)
    chosen = [grams[i] for i in sorted(pick)]
    absent = [f"{w} zzq{w}" for w in _words(_rng(seed, "corpus.absent"), 50)]
    half = len(chosen) // 2
    phrases = chosen[:half] + absent
    collections = chosen[half:]
    _write(
        os.path.join(out, "phrases.txt"),
        "".join(f"{g.replace(' ', '_')} {i}\n" for i, g in enumerate(phrases)),
    )
    _write(
        os.path.join(out, "collections.txt"),
        "".join(g.replace(" ", "_") + "\n" for g in collections),
    )
    g_rows, s_rows, emitted, passed = corpus_reference(
        docs, doc_sub, src2sub, set(phrases) | set(collections),
        CORPUS_MAXNGRAMS,
    )
    _write(
        os.path.join(out, "expected_global.tsv"),
        "".join("\t".join(map(str, r)) + "\n" for r in g_rows),
    )
    _write(
        os.path.join(out, "expected_source.tsv"),
        "".join("\t".join(map(str, r)) + "\n" for r in s_rows),
    )
    _write(
        os.path.join(out, "truth.json"),
        json.dumps(
            {
                "docs": n_docs,
                "vocabulary": len(set(phrases) | set(collections)),
                "ngrams_emitted": emitted,
                "ngrams_passed": passed,
                "maxngrams": CORPUS_MAXNGRAMS,
            },
            sort_keys=True,
        ),
    )


def read_tsv_rows(path: str, n_text: int) -> set[tuple]:
    """Rows of an expected_*.tsv: ``n_text`` string columns, then ints."""
    rows = set()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            rows.add(
                tuple(parts[:n_text]) + tuple(int(x) for x in parts[n_text:])
            )
    return rows


# --------------------------------------------------------------------------
# incremental_dedup
# --------------------------------------------------------------------------

def minhash_signature(text: str) -> list[int] | None:
    """The portable md5 MinHash of incremental_minhash_dedup: distinct
    whitespace-token ``SHINGLE_N``-grams, hash ``i`` of shingle ``s`` =
    the first 15 hex digits of md5(``f"{i}:{s}"``). None when the text
    has no shingle (such a document never pairs)."""
    toks = [t for t in re.split(r"\s+", text) if t]
    shingles = {
        " ".join(toks[i:i + SHINGLE_N])
        for i in range(len(toks) - SHINGLE_N + 1)
    }
    if not shingles:
        return None
    return [
        min(
            int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:15], 16)
            for s in shingles
        )
        for i in range(NUM_HASHES)
    ]


def lsh_pairs(sigs: dict[int, list[int]]) -> list[tuple[int, int, int]]:
    """All (a < b, agree) sharing at least one band bucket with
    ``agree`` (equal signature positions) >= ``MIN_AGREE``."""
    rows = NUM_HASHES // BANDS
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for doc_id, sig in sigs.items():
        for b in range(BANDS):
            buckets[(b, tuple(sig[b * rows:(b + 1) * rows]))].append(doc_id)
    cands = set()
    for ids in buckets.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                cands.add((a, b))
    out = []
    for a, b in sorted(cands):
        agree = sum(x == y for x, y in zip(sigs[a], sigs[b]))
        if agree >= MIN_AGREE:
            out.append((a, b, agree))
    return out


def _gen_dedup(seed: int, out: str, scale: float) -> None:
    n_docs = max(40, int(DEDUP_DOCS * scale))
    n_planted = max(4, int(DEDUP_PLANTED * scale))
    n_batches = max(2, int(DEDUP_BATCHES * scale))
    rng = _rng(seed, "dedup.docs")
    vocab = _words(rng, 3000)
    p = _zipf_p(len(vocab), 0.9)
    n_base = n_docs - n_planted
    texts = []
    for _ in range(n_base):
        n = int(rng.integers(60, 100))
        texts.append([vocab[j] for j in rng.choice(len(vocab), n, p=p)])
    planted_src = rng.choice(n_base, n_planted, replace=False)
    for s in planted_src:
        # one token substituted: ~3 of ~80 shingles change, Jaccard ~0.93
        toks = list(texts[s])
        toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(toks)
    # shuffled sparse ids: pair members land in different micro-batches
    ids = rng.choice(np.arange(1, 50 * n_docs), n_docs, replace=False)
    ids = [int(x) for x in ids]
    docs = {ids[i]: " ".join(t) for i, t in enumerate(texts)}
    planted = sorted(
        tuple(sorted((ids[int(s)], ids[n_base + j])))
        for j, s in enumerate(planted_src)
    )
    order = sorted(docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(order, pa.int64()),
                "text": pa.array([docs[i] for i in order], pa.string()),
            }
        ),
        os.path.join(out, "docs.parquet"),
    )
    sigs = {}
    for i, t in docs.items():
        sig = minhash_signature(t)
        if sig is not None:
            sigs[i] = sig
    expected = lsh_pairs(sigs)
    _write(
        os.path.join(out, "expected_pairs.tsv"),
        "".join(f"{a}\t{b}\t{g}\n" for a, b, g in expected),
    )
    _write(
        os.path.join(out, "planted_pairs.tsv"),
        "".join(f"{a}\t{b}\n" for a, b in planted),
    )
    _write(
        os.path.join(out, "truth.json"),
        json.dumps(
            {"docs": n_docs, "planted": n_planted, "batches": n_batches,
             "expected_pairs": len(expected)},
            sort_keys=True,
        ),
    )


# --------------------------------------------------------------------------
# vector_search
# --------------------------------------------------------------------------

def exact_topk(
    q: np.ndarray, c: np.ndarray, c_ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(neighbor ids, cosines) of the exact top-k per query row, ties
    broken by lower id, like the program's window order."""
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    cos = qn @ cn.T
    ids = np.empty((len(q), k), np.int64)
    sims = np.empty((len(q), k))
    for j in range(len(q)):
        order = np.lexsort((c_ids, -cos[j]))[:k]
        ids[j] = c_ids[order]
        sims[j] = cos[j, order]
    return ids, sims


def _gen_vectors(seed: int, out: str, scale: float) -> None:
    n = max(100, int(VEC_CORPUS * scale))
    n_q = max(10, int(VEC_QUERIES * scale))
    n_batches = max(1, int(VEC_BATCHES * scale))
    rng = _rng(seed, "vectors")
    centers = rng.normal(size=(32, VEC_DIM))
    assign = rng.integers(0, len(centers), n)
    corpus = centers[assign] + 0.35 * rng.normal(size=(n, VEC_DIM))
    c_ids = np.arange(n, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(c_ids),
                "embedding": pa.array(list(corpus), pa.list_(pa.float64())),
            }
        ),
        os.path.join(out, "corpus.parquet"),
    )
    rows = []
    for b in range(n_batches):
        qa = rng.integers(0, len(centers), n_q)
        q = centers[qa] + 0.35 * rng.normal(size=(n_q, VEC_DIM))
        # query ids never collide with corpus ids (no self-match drop)
        q_ids = np.arange(n_q, dtype=np.int64) + 10_000_000 * (b + 1)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(q_ids),
                    "embedding": pa.array(list(q), pa.list_(pa.float64())),
                }
            ),
            os.path.join(out, f"queries_{b}.parquet"),
        )
        ids, sims = exact_topk(q, corpus, c_ids, TOP_K)
        for j, qid in enumerate(q_ids):
            for r in range(TOP_K):
                rows.append(f"{b}\t{qid}\t{r + 1}\t{ids[j, r]}\t{sims[j, r]!r}\n")
    _write(os.path.join(out, "expected_topk.tsv"), "".join(rows))
    _write(
        os.path.join(out, "truth.json"),
        json.dumps(
            {"corpus": n, "dim": VEC_DIM, "queries_per_batch": n_q,
             "batches": n_batches, "k": TOP_K},
            sort_keys=True,
        ),
    )


GENERATORS = {
    "corpus_job": _gen_corpus,
    "incremental_dedup": _gen_dedup,
    "vector_search": _gen_vectors,
}


def generate(
    workload: str, seed: int, scale: float = 1.0, root: str = CACHE
) -> str:
    """Directory holding ``workload``'s inputs and ground truth for
    ``seed`` at ``scale`` times the default size; built on first use."""
    with open(os.path.abspath(__file__), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    out = os.path.join(root, f"{workload}-s{int(seed)}-x{scale:g}-{version}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    GENERATORS[workload](int(seed), out, scale)
    _write(os.path.join(out, "DONE"), "")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    print(generate(args.workload, args.seed))


if __name__ == "__main__":
    main()
