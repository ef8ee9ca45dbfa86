"""The shared Arrow-lane kernels (vspace_spark/functions/kernels.py):
router invariants without a Spark session, and the by-value shipping
that lets the lanes run from a driver outside the repository."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np

from vspace_spark.functions.kernels import nearest_center, router

REPO = str(Path(__file__).resolve().parents[1])


def _two_level_codebook(X, kc, per_cell, steps=5):
    """A small hierarchically trained codebook: Lloyd on the coarse
    level, then Lloyd per coarse cell on its own members."""

    def lloyd(pts, C):
        for _ in range(steps):
            a = nearest_center(pts, C)
            for c in range(len(C)):
                if (a == c).any():
                    C[c] = pts[a == c].mean(0)
        return C, nearest_center(pts, C)

    CC, ca = lloyd(X, X[:kc].copy())
    fine, owner = [], []
    for c in range(kc):
        fine_c, _ = lloyd(X[ca == c], X[ca == c][:per_cell].copy())
        fine.extend(fine_c)
        owner.extend([c] * len(fine_c))
    return np.asarray(fine), CC, owner


def _clustered(seed=11, n=360, dim=12):
    # overlapping clusters, so boundary vectors exist and nprobe matters
    rng = np.random.default_rng(seed)
    cents = rng.normal(0, 2.0, (6, dim))
    return cents[np.arange(n) % 6] + rng.normal(0, 1.2, (n, dim))


def _single_probe(V, C, CC, owner):
    """The single-probe router as the IVF assigner wrote it before the
    kernel: coarse argmin, then argmin over that cell's fine centers."""
    c2 = (C * C).sum(1)[None, :]
    cgrp = ((CC * CC).sum(1)[None, :] - 2.0 * (V @ CC.T)).argmin(1)
    owner = np.asarray(owner)
    cells = np.empty(len(V), dtype=np.int64)
    for c in range(len(CC)):
        rows = np.nonzero(cgrp == c)[0]
        m = np.nonzero(owner == c)[0]
        if len(rows):
            sub = c2[0, m][None, :] - 2.0 * (V[rows] @ C[m].T)
            cells[rows] = m[sub.argmin(1)]
    return cells


def test_router_nprobe_all_equals_flat_and_recall_is_monotone():
    """Spark-free twin of test_two_level_router_nprobe_all_equals_flat
    (tests/test_dedup.py, slow): probing every coarse cell is the flat
    argmin, and nprobe=2 agrees with flat at least as often as
    nprobe=1."""
    X = _clustered()
    fine, CC, owner = _two_level_codebook(X, kc=3, per_cell=4)
    flat = router(fine)(X)
    assert (flat == nearest_center(X, fine)).all()
    coarse = (CC, owner)
    assert (router(fine, coarse, nprobe=len(CC))(X) == flat).all()
    a1 = (router(fine, coarse, nprobe=1)(X) == flat).sum()
    a2 = (router(fine, coarse, nprobe=2)(X) == flat).sum()
    assert a1 < len(X)  # the data has boundary vectors
    assert a2 >= a1


def test_router_single_probe_keeps_argmin_ties():
    """nprobe=1 is the old single-probe argmin, exact ties included:
    every point of an integer grid is equidistant from some coarse or
    fine centers, and each tie must go to the lowest index."""
    CC = np.array([[0.0, 0.0], [2.0, 0.0], [1.0, 2.0]])
    C = np.array(
        [[0, 1], [0, -1], [2, 1], [2, -1], [1, 3], [0, 2]], dtype=float
    )
    owner = [0, 0, 1, 1, 2, 2]
    g = np.arange(-2, 5, dtype=float)
    V = np.array([[x, y] for x in g for y in g])
    got = router(C, (CC, owner), nprobe=1)(V)
    assert (got == _single_probe(V, C, CC, owner)).all()
    assert got[(V == [1.0, 0.0]).all(1)][0] == 0  # 4-way fine tie


def test_router_gives_a_nan_row_a_cell():
    """A vector with a NaN component compares smaller than no
    distance; the first probe still sets its cell, deterministically
    and in range, at every nprobe, and the other rows are unchanged."""
    X = _clustered(n=60)
    fine, CC, owner = _two_level_codebook(X, kc=3, per_cell=4)
    bad = X.copy()
    bad[7, 3] = np.nan
    for nprobe in (1, 2, 3):
        route = router(fine, (CC, owner), nprobe)
        clean, got = route(X), route(bad)
        assert 0 <= got[7] < len(fine)
        assert got[7] == route(bad)[7] == router(fine, (CC, owner))(bad)[7]
        assert (np.delete(got, 7) == np.delete(clean, 7)).all()


# The lanes whose worker closures reference the kernels, run on a tiny
# frame. Executed in-process and, as a script, from a foreign cwd.
_LANES = '''
def run(spark):
    from pyspark.sql import functions as F

    from vspace_spark.operators.dedup import (
        hierarchical_codebook,
        semantic_dedup,
    )
    from vspace_spark.operators.similarity import (
        brute_force_topk_arrow,
        ivf_topk,
        portable_hyperplanes,
    )
    from vspace_spark.operators.stats import (
        term_stats_pandas,
        tokenized_documents,
    )
    from vspace_spark.streaming.corpus import streaming_term_stats_pandas

    emb = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11 + (i % 4) * 5) for j in range(8)])
            for i in range(60)
        ],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * j) % 7}" for j in range(i % 5 + 2)), "s")
            for i in range(12)
        ],
        "doc_id long, text string, source string",
    )
    q = emb.filter(F.col("vec_id") < 4)
    fine, coarse, owner = hierarchical_codebook(emb, 6)
    grams = tokenized_documents(docs, min_n=1, max_n=2).select("token")
    lanes = {
        "brute_force_topk_arrow": brute_force_topk_arrow(q, emb, k=3),
        "ivf_topk_arrow": ivf_topk(
            q, emb, k=3, n_probe=2, centers=fine, assign_engine="arrow"
        ),
        "semantic_dedup_flat": semantic_dedup(
            emb, portable_hyperplanes(8, 4, salt="s"), threshold=0.9,
            collapse_exact=False, engine="arrow",
        ),
        "semantic_dedup_coarse": semantic_dedup(
            emb, fine, threshold=0.9, collapse_exact=False,
            engine="arrow", coarse=(coarse, owner),
        ),
        "term_stats_pandas": term_stats_pandas(
            docs, grams.distinct(), min_n=1, max_n=2
        ),
        "streaming_term_stats_pandas": streaming_term_stats_pandas(docs),
    }
    return {
        name: sorted(
            [list(r) for r in df.select(sorted(df.columns)).collect()],
            key=repr,
        )
        for name, df in lanes.items()
    }
'''

_FOREIGN = '''
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
{lanes}
print("ROWS " + json.dumps(run(spark)))
spark.stop()
'''


def test_arrow_lanes_run_from_a_foreign_cwd(spark, tmp_path):
    """Executors import nothing from this repository when the driver's
    cwd is elsewhere (pytest's cwd hides that), so each lane's worker
    closure must ship the kernels by value. The same lanes run in a
    subprocess whose cwd is ``tmp_path`` and whose PYTHONPATH omits the
    repository must return the in-process rows."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out, err = tmp_path / "stdout", tmp_path / "stderr"
    with open(out, "w") as fo, open(err, "w") as fe:
        proc = subprocess.Popen(
            [sys.executable, "-c", _FOREIGN.format(repo=REPO, lanes=_LANES)],
            cwd=tmp_path,
            env=env,
            stdout=fo,
            stderr=fe,
        )
        try:
            ns: dict = {}
            exec(_LANES, ns)  # in-process, while the subprocess runs
            want = json.loads(json.dumps(ns["run"](spark)))
            proc.wait(timeout=600)
        finally:
            proc.kill()
    rows = [
        line for line in out.read_text().splitlines()
        if line.startswith("ROWS ")
    ]
    assert proc.returncode == 0 and rows, err.read_text()[-3000:]
    got = json.loads(rows[0][5:])
    assert set(got) == set(want)
    for name in want:
        assert want[name], name
        assert got[name] == want[name], name
