"""The shared similarity kernels, checked in plain numpy (no Spark
session): score_pairs/cosine_tiles against a per-pair Python
reference at several tile sizes, and the assignment kernel's
tie-breaks.

SCORE_TILE_CELLS is shrunk in-process with monkeypatch: Spark workers
import the module afresh (module-level functions pickle by
reference), so a shrink there would still run the default tile."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import bqfetch_spark.operators.similarity as sim

DIM = 6


def _vectors(kind: str, n: int, seed: int) -> np.ndarray:
    v = np.random.default_rng(seed).normal(size=(n, DIM))
    return v if kind == "float" else np.round(v * sim.IVF_Q).astype(np.int64)


def _dot(a, b) -> float:
    if a.dtype.kind == "i":
        return float(sum(int(p) * int(q) for p, q in zip(a, b)))  # exact
    acc = 0.0
    for p, q in zip(a, b):  # left-to-right fold in Python floats
        acc += float(p) * float(q)
    return acc


def _norm(a) -> float:
    return math.sqrt(_dot(a, a))


def _case(kind: str, shape: str):
    """(ids_x, x, ids_y, y): self pairs, disjoint cross pairs with
    interleaved ids (so orientation flips), or a y side holding every x
    (q69's probe side against its whole cell)."""
    if shape == "self":
        ids = np.random.default_rng(1).permutation(25).astype(np.int64) * 3
        m = _vectors(kind, 25, 2)
        return ids, m, ids, m
    ids_x = np.array([40, 3, 17], dtype=np.int64)
    x = _vectors(kind, 3, 3)
    if shape == "cross":
        ids_y = np.random.default_rng(4).permutation(29).astype(np.int64) * 2 + 1
        return ids_x, x, ids_y, _vectors(kind, 29, 5)
    ids_y = np.concatenate([np.arange(20, dtype=np.int64) * 3 + 1, ids_x])
    y = np.concatenate([_vectors(kind, 20, 6), x])
    return ids_x, x, ids_y, y


@pytest.mark.parametrize("tile", [None, 1, 7])
@pytest.mark.parametrize("kind", ["float", "int"])
@pytest.mark.parametrize("shape", ["self", "cross", "subset"])
def test_score_pairs_matches_per_pair_reference(monkeypatch, tile, kind, shape):
    if tile is not None:
        monkeypatch.setattr(sim, "SCORE_TILE_CELLS", tile)
    ids_x, x, ids_y, y = _case(kind, shape)
    nx = np.array([_norm(a) for a in x])
    ny = np.array([_norm(b) for b in y])
    ref = np.array([[_dot(a, b) / (rx * ry) for b, ry in zip(y, ny)] for a, rx in zip(x, nx)])

    tiles = list(sim.cosine_tiles(x, nx, y, ny))
    step = max(1, sim.SCORE_TILE_CELLS // len(x))
    assert [lo for lo, _ in tiles] == list(range(0, len(y), step))
    assert np.array_equal(np.hstack([cos for _, cos in tiles]), ref)

    x_on_y = set(ids_x) & set(ids_y)
    want = sorted(
        (min(a, b), max(a, b), ref[i, j])
        for i, a in enumerate(ids_x.tolist())
        for j, b in enumerate(ids_y.tolist())
        if ref[i, j] >= sim.SCORE_PRE_CUT and (a < b or a not in x_on_y)
    )
    got = sim.score_pairs(ids_x, x, nx, ids_y, y, ny)
    assert dict(got.dtypes) == sim._PAIR_DTYPES
    assert sorted(got.itertuples(index=False, name=None)) == want
    assert len(want) > 0  # the cut kept something to compare


@pytest.mark.parametrize("kind", ["float", "int"])
def test_score_pairs_empty_side_is_typed_empty(kind):
    ids = np.arange(4, dtype=np.int64)
    m = _vectors(kind, 4, 7)
    n = np.array([_norm(a) for a in m])
    none = np.array([], dtype=np.int64)
    for args in [
        (none, m[:0], n[:0], ids, m, n),
        (ids, m, n, none, m[:0], n[:0]),
    ]:
        got = sim.score_pairs(*args)
        assert len(got) == 0
        assert dict(got.dtypes) == sim._PAIR_DTYPES


def _ranked(out: pd.DataFrame) -> list:
    return [list(g["cell_id"]) for _, g in out.groupby("vec_id", sort=True)]


def test_assignment_ties_break_toward_smaller_cell_id():
    # distance keys: cells 7, 3, 5 sit at squared distance 1 from row
    # 0; cell 1 is far. Row 1 is nearest cell 1 and equidistant
    # (d = 82) from 3 and 7.
    cq_state = [
        (7, [1, 0, 0, 0]),
        (3, [0, 1, 0, 0]),
        (5, [0, 0, -1, 0]),
        (1, [5, 5, 5, 5]),
    ]
    pdf = pd.DataFrame({"vec_id": [0, 1], "qv": [[0, 0, 0, 0], [5, 5, 5, 4]]})
    cells, keys = sim.km_keys(cq_state)
    assert keys(pdf)[0].tolist() == [100, 1, 1, 1]  # columns in cell_id order
    assert _ranked(sim.assign_batch(pdf, cells, keys, 1)) == [[3], [1]]
    assert _ranked(sim.assign_batch(pdf, cells, keys, 3)) == [[3, 5, 7], [1, 3, 7]]

    # similarity keys: cells 9 and 2 tie at s = 1/√2 (9's centroid is
    # 2× longer, the same direction), 4 and 6 tie at s = 0
    crows = [
        {"cell_id": 9, "qc": [2, 0, 0, 0], "nc": 4},
        {"cell_id": 4, "qc": [0, 0, 1, 0], "nc": 1},
        {"cell_id": 2, "qc": [0, 1, 0, 0], "nc": 1},
        {"cell_id": 6, "qc": [0, 0, 0, 1], "nc": 1},
    ]
    pdf = pd.DataFrame({"vec_id": [0], "qv": [[1, 1, 0, 0]], "nv": [2]})
    cells, keys = sim.seeded_keys(crows)
    k = keys(pdf)[0]
    assert k[0] == k[3] and k[1] == k[2]  # columns: cells 2, 4, 6, 9
    assert _ranked(sim.assign_batch(pdf, cells, keys, 1)) == [[2]]
    assert _ranked(sim.assign_batch(pdf, cells, keys, 4)) == [[2, 9, 4, 6]]
