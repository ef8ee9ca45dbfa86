"""numpy kernels the Arrow (``mapInPandas``/``applyInPandas``) lanes run
inside executor Python workers — each written once, here.

Executors cannot import ``vspace_spark`` when the driver's working
directory is elsewhere (NOTES.md seam #2), so a worker closure may not
reference this package by import path. This module therefore imports
only numpy and pandas, and registers itself with
``pyspark.cloudpickle.register_pickle_by_value`` when imported: every
closure that references one of these functions ships its code by value,
and the worker never imports ``vspace_spark``. The registration is the
load-bearing line; ``tests/test_kernels.py`` runs the lanes from a
foreign working directory to guard it.

Every kernel is pure numpy, so its invariants are testable without a
Spark session.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd


def as_matrix(vectors) -> np.ndarray:
    """An Arrow batch's array column as a rows × dim float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vectors])


def center_dists(
    V: np.ndarray, C: np.ndarray, c2: np.ndarray | None = None
) -> np.ndarray:
    """``‖c‖² − 2·v·c`` for every (row, center): ``‖v−c‖²`` less the
    row's own ``‖v‖²``, which cannot change an argmin or a ranking.
    ``c2`` is ``(C * C).sum(1)`` when the caller has it already."""
    if c2 is None:
        c2 = (C * C).sum(1)
    return c2[None, :] - 2.0 * (V @ C.T)


def nearest_center(
    V: np.ndarray, C: np.ndarray, c2: np.ndarray | None = None
) -> np.ndarray:
    """Each row's nearest center; ties go to the lowest center index
    (argmin takes the first minimum)."""
    return center_dists(V, C, c2).argmin(1)


def top_n(d: np.ndarray, n: int) -> np.ndarray:
    """Column indices of each row's ``n`` smallest entries, smallest
    first. The sort is stable, so equal entries keep index order:
    ``top_n(d, 1)[:, 0]`` is ``d.argmin(1)``, and ties break to the
    lowest index like an oracle's ``ORDER BY dist, cell``."""
    return np.argsort(d, axis=1, kind="stable")[:, :n]


def router(centers, coarse=None, nprobe: int = 1):
    """``route(V) -> int64 cell per row``: the nearest of ``centers``.

    ``coarse`` = (coarse_centers Kc×D, fine_owner K ints) routes two
    levels: a row visits its ``nprobe`` nearest coarse cells, nearest
    first, and takes the nearest fine center any of them owns —
    N·(Kc + nprobe·K/Kc)·D flops instead of N·K·D. The first probe sets
    every row's cell (a NaN row included, whose distances never compare
    smaller); a later probe replaces it only with a strictly nearer
    center, so ``nprobe=1`` is the single-probe argmin and
    ``nprobe=Kc`` the flat argmin (save that an exact tie between fine
    centers of two coarse cells goes to the nearer coarse cell)."""
    C = np.asarray(centers, dtype=np.float64)
    c2 = (C * C).sum(1)
    if coarse is None:
        return lambda V: nearest_center(V, C, c2)
    CC = np.asarray(coarse[0], dtype=np.float64)
    cc2 = (CC * CC).sum(1)
    owner = np.asarray(coarse[1], dtype=np.int64)
    members = [np.flatnonzero(owner == c) for c in range(len(CC))]
    take = min(int(nprobe), len(CC))

    def route(V: np.ndarray) -> np.ndarray:
        order = top_n(center_dists(V, CC, cc2), take)
        cells = np.zeros(len(V), dtype=np.int64)
        best = np.full(len(V), np.inf)
        for p in range(take):
            for c, m in enumerate(members):
                rows = np.flatnonzero(order[:, p] == c)
                if not len(rows) or not len(m):
                    continue
                d = center_dists(V[rows], C[m], c2[m])
                j = d.argmin(1)
                dj = d[np.arange(len(rows)), j]
                if p:
                    upd = dj < best[rows]
                    rows, j, dj = rows[upd], j[upd], dj[upd]
                best[rows] = dj
                cells[rows] = m[j]
        return cells

    return route


def in_sorted(sorted_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Membership mask of ``ids`` in the ascending ``sorted_ids``."""
    if not sorted_ids.size:
        return np.zeros(ids.size, dtype=bool)
    pos = np.searchsorted(sorted_ids, ids).clip(0, sorted_ids.size - 1)
    return sorted_ids[pos] == ids


def row_histogram(rows: np.ndarray, keys: np.ndarray):
    """Per-(row, key) counts of a non-empty flat (row, key) stream: one
    lexsort, then run lengths. Returns ``(rows, keys, counts)`` of the
    distinct pairs, ordered by row, then key."""
    order = np.lexsort((keys, rows))
    rows, keys = rows[order], keys[order]
    boundary = np.empty(keys.size, dtype=bool)
    boundary[0] = True
    np.logical_or(
        rows[1:] != rows[:-1], keys[1:] != keys[:-1], out=boundary[1:]
    )
    starts = np.flatnonzero(boundary)
    return rows[starts], keys[starts], np.diff(np.append(starts, keys.size))


def hash_tokens(tokens: np.ndarray) -> np.ndarray:
    """64-bit token ids: pandas' SipHash with its fixed key, so the
    driver and every worker process agree."""
    return pd.util.hash_array(tokens).view(np.int64)


def rot_xor(prev: np.ndarray, nxt: np.ndarray) -> np.ndarray:
    """One link of an n-gram id chain: ``rotl(prev, 13) ^ nxt``."""
    p = prev.view(np.uint64)
    return (
        ((p << np.uint64(13)) | (p >> np.uint64(51))) ^ nxt.view(np.uint64)
    ).view(np.int64)


def _ship_by_value() -> None:
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


_ship_by_value()
