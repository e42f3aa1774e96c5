"""Reference answers computed outside the engine (NumPy and DuckDB).

Each function takes the generated R-MAT edge arrays (external vertex ids)
and returns the answer the engine must reproduce. All of them run during
set-up, untimed.
"""

from __future__ import annotations

import numpy as np

ALPHA = 0.85


def edge_checksum(src: np.ndarray, dst: np.ndarray) -> int:
    """Order-insensitive checksum of an edge multiset. The Spark side
    (``workloads.spark_edge_checksum``) evaluates the same expression, kept
    inside int64 without overflow for vertex ids below 2**20."""
    s = src.astype(np.int64)
    d = dst.astype(np.int64)
    return int(np.sum((s * 2654435761 + d * 40503) % 2147483647))


def unique_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    pairs = np.unique(np.stack([src, dst], axis=1).astype(np.int64), axis=0)
    return pairs[:, 0], pairs[:, 1]


def vertices(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    return np.unique(np.concatenate([src, dst]).astype(np.int64))


def pagerank(
    src: np.ndarray, dst: np.ndarray, tol: float, alpha: float = ALPHA
) -> tuple[dict, int]:
    """Power iteration with the engine's update rule on the deduplicated
    directed edge set: rank' = alpha * sum(rank/out_deg over in-edges)
    + (alpha * dangling_mass + 1 - alpha) / V, starting from 1/V.

    Returns ({vertex: rank} at the fixed point, the iteration at which the
    per-iteration L1 change first drops below ``tol``)."""
    us, ud = unique_edges(src, dst)
    verts = vertices(us, ud)
    n = len(verts)
    si = np.searchsorted(verts, us)
    di = np.searchsorted(verts, ud)
    out = np.bincount(si, minlength=n).astype(np.float64)
    sink = out == 0
    safe_out = np.where(sink, 1.0, out)
    r = np.full(n, 1.0 / n)
    iters_to_tol = None
    for it in range(1, 1000):
        gather = np.bincount(di, weights=(r / safe_out)[si], minlength=n)
        new = alpha * gather + (alpha * r[sink].sum() + 1.0 - alpha) / n
        l1 = float(np.abs(new - r).sum())
        r = new
        if iters_to_tol is None and l1 < tol:
            iters_to_tol = it
        if l1 < 1e-14:
            break
    return dict(zip(verts.tolist(), r.tolist())), int(iters_to_tol)


def pagerank_error_bound(tol: float, alpha: float = ALPHA) -> float:
    """L1 distance to the fixed point that an L1 stop at ``tol`` allows:
    the iteration contracts by ``alpha`` per step, so the remaining error
    is at most alpha / (1 - alpha) times the last step's change."""
    return tol * alpha / (1.0 - alpha) * 1.05 + 1e-12


def wcc_labels(src: np.ndarray, dst: np.ndarray) -> dict:
    """Weak components by min-label propagation with pointer jumping;
    each vertex maps to the smallest vertex id of its component."""
    verts = vertices(src, dst)
    si = np.searchsorted(verts, src)
    di = np.searchsorted(verts, dst)
    lab = np.arange(len(verts))
    while True:
        old = lab.copy()
        m = np.minimum(lab[si], lab[di])
        np.minimum.at(lab, si, m)
        np.minimum.at(lab, di, m)
        lab = lab[lab]
        if np.array_equal(lab, old):
            break
    return dict(zip(verts.tolist(), verts[lab].tolist()))


def triangle_total(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph, counted by DuckDB over
    canonical (u < v) pairs with self-loops dropped."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("raw", pd.DataFrame({"src": src, "dst": dst}))
        return int(
            con.execute(
                """
                WITH e AS (
                    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                    FROM raw WHERE src <> dst
                )
                SELECT count(*) FROM e a
                JOIN e b ON a.v = b.u
                JOIN e c ON a.u = c.u AND b.v = c.v
                """
            ).fetchone()[0]
        )
    finally:
        con.close()
