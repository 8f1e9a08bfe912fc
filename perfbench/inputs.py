"""Seeded benchmark inputs, generated on the driver from ``--seed``.

Everything here is numpy/pandas on the driver and lands in parquet under the
run's scratch directory: a ``mapInPandas`` closure defined in this package
would fail on the Python workers, which can import ``lagespark`` but not the
benchmark. The generators follow ``BENCH/scaling.py`` (polygon sides, the
wide-alphabet document corpus) with the seed threaded through the repo's
counter-based ``fixtures._hash_uniform``; points come from
``fixtures.points_for_indices`` (80% urban skew).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lagespark import fixtures

ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
VOCAB = 4000
DOC_WORDS = 40


def _u01(ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    return fixtures._hash_uniform(np.asarray(ids, dtype=np.int64), stream, seed)


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    """One-file parquet dataset at ``path`` (a directory, Spark-readable)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "part-00000.parquet"),
    )
    return path


def points(n: int, seed: int) -> pd.DataFrame:
    """The skewed point field: (pid, x, y)."""
    x, y = fixtures.points_for_indices(np.arange(n), seed)
    return pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "x": x, "y": y})


def polygon_side(n: int, seed: int, salt: int) -> pd.DataFrame:
    """n features (~85% axis rects, 15% octagons) with centres uniform in an
    L×L window, L ∝ sqrt(n) — ``BENCH/scaling.py::_overlay_side`` with a seed."""
    ids = np.arange(n, dtype=np.int64)
    side = max(2000.0, np.sqrt(n) * 180.0)
    cx = _u01(ids, salt * 10 + 1, seed) * side
    cy = _u01(ids, salt * 10 + 2, seed) * side
    w = 60.0 + _u01(ids, salt * 10 + 3, seed) * 360.0
    h = 60.0 + _u01(ids, salt * 10 + 4, seed) * 360.0
    is_rect = _u01(ids, salt * 10 + 5, seed) < 0.85
    oct_c = np.cos(np.arange(8) * np.pi / 4)
    oct_s = np.sin(np.arange(8) * np.pi / 4)
    rows = []
    for k in range(n):
        if is_rect[k]:
            x0, y0 = cx[k] - w[k] / 2, cy[k] - h[k] / 2
            x1, y1 = cx[k] + w[k] / 2, cy[k] + h[k] / 2
            ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        else:
            r = w[k] / 2
            ring = [(cx[k] + r * oct_c[j], cy[k] + r * oct_s[j]) for j in range(8)]
            x0, y0, x1, y1 = cx[k] - r, cy[k] - r, cx[k] + r, cy[k] + r
        rows.append(
            (f"s{salt}f{k}", [[{"x": float(a), "y": float(b)} for a, b in ring]],
             float(x0), float(y0), float(x1), float(y1))
        )
    return pd.DataFrame(rows, columns=["feature_id", "rings", "xmin", "ymin", "xmax", "ymax"])


def side_rings(pdf: pd.DataFrame) -> dict[str, list[np.ndarray]]:
    """feature_id → numpy rings, for the brute-force reference."""
    return {
        fid: [np.array([[p["x"], p["y"]] for p in ring], dtype=np.float64) for ring in rings]
        for fid, rings in zip(pdf["feature_id"], pdf["rings"])
    }


def _vocab(seed: int) -> list[str]:
    ids = np.arange(VOCAB, dtype=np.int64)
    arr = np.stack(
        [(_u01(ids, 900 + c, seed) * len(ALPHABET)).astype(np.int64) for c in range(6)],
        axis=1,
    )
    return ["".join(ALPHABET[c] for c in row) for row in arr]


def documents(n: int, seed: int, dup_every: int = 10) -> pd.DataFrame:
    """n documents of ~40 six-letter words; every ``dup_every``-th document
    near-duplicates its predecessor (last two words changed), and a tripled
    language marker keyed on doc_id % 4 gives langid four strata —
    ``BENCH/scaling.py::_docs`` + ``_corpus_src`` with a seed."""
    voc = _vocab(seed)
    ids = np.arange(n, dtype=np.int64)
    base = np.where(ids % dup_every == dup_every - 1, ids - 1, ids)
    cols = [
        (_u01(base * np.int64(DOC_WORDS) + j, 77, seed) * VOCAB).astype(np.int64)
        for j in range(DOC_WORDS)
    ]
    edit = ids % dup_every == dup_every - 1
    for j in (DOC_WORDS - 2, DOC_WORDS - 1):
        cols[j] = np.where(
            edit,
            (_u01(ids * np.int64(DOC_WORDS) + j, 78, seed) * VOCAB).astype(np.int64),
            cols[j],
        )
    words = np.stack(cols, axis=1)
    markers = np.array(["the", "der", "le", "el"])[ids % 4]
    texts = [
        f"{m} {m} {m} " + " ".join(voc[w] for w in row) for m, row in zip(markers, words)
    ]
    return pd.DataFrame({"doc_id": ids, "text": texts})
