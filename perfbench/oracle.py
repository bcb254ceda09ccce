"""Reference results computed without the engine, and the output checks.

Every reference is computed once per seed from the generator's own edge
list: numpy for PageRank, HITS, connected components and label
propagation, DuckDB for the triangle count. Each follows the engine's
documented contract (see the algorithm docstrings), not its code.

Edge inputs are int64 numpy arrays ``src``, ``dst`` of a simple directed
graph: no duplicate pairs, no self-loops (both generators guarantee it).
"""

from __future__ import annotations

import numpy as np

FLOAT_RTOL = 1e-6
FLOAT_ATOL = 1e-12


def _index(src: np.ndarray, dst: np.ndarray):
    """Sorted vertex ids and the edge endpoints as positions into them."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src) :]


def pagerank(src, dst, iters: int, d: float = 0.85):
    """Power iteration from 1/n; dangling mass spread uniformly."""
    ids, s, t = _index(src, dst)
    n = len(ids)
    out = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out == 0
    denom = np.where(dangling, 1.0, out)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(t, weights=(r / denom)[s], minlength=n)
        r = (1.0 - d) / n + d * (contrib + r[dangling].sum() / n)
    return ids, r


def hits(src, dst, iters: int):
    """Hub vector starts at 1; authority = sum of in-neighbour hubs, hub =
    sum of out-neighbour raw authorities; both L1-normalized."""
    ids, s, t = _index(src, dst)
    n = len(ids)
    hub = np.ones(n)
    a_raw = h_raw = None
    for _ in range(iters):
        a_raw = np.bincount(t, weights=hub[s], minlength=n)
        h_raw = np.bincount(s, weights=a_raw[t], minlength=n)
        hub = h_raw / h_raw.sum()
    return ids, a_raw / a_raw.sum(), h_raw / h_raw.sum()


def components(src, dst):
    """Weakly connected components; each vertex labelled with the least id
    in its component (min-label hooking plus pointer jumping)."""
    ids, s, t = _index(src, dst)
    comp = np.arange(len(ids))
    while True:
        m = np.minimum(comp[s], comp[t])
        new = comp.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, t, m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, comp):
            return ids, ids[comp]
        comp = new


def label_propagation(src, dst, iters: int):
    """Synchronous LPA over the undirected graph: each vertex takes the most
    frequent neighbour label, the least label on ties; isolated vertices
    keep their own id."""
    ids, s, t = _index(src, dst)
    n = len(ids)
    pairs = np.unique(np.concatenate([s * n + t, t * n + s]))
    a, b = pairs // n, pairs % n
    labels = ids.copy()
    for _ in range(iters):
        lab = labels[b]
        order = np.lexsort((lab, a))
        a2, l2 = a[order], lab[order]
        starts = np.flatnonzero(np.r_[True, (a2[1:] != a2[:-1]) | (l2[1:] != l2[:-1])])
        cnt = np.diff(np.r_[starts, len(a2)])
        ga, gl = a2[starts], l2[starts]
        best = np.lexsort((gl, -cnt, ga))
        ga, gl = ga[best], gl[best]
        first = np.r_[True, ga[1:] != ga[:-1]]
        labels = labels.copy()
        labels[ga[first]] = gl[first]
    return ids, labels


def triangle_count(src, dst) -> int:
    """Triangles of the undirected graph, counted once each, in DuckDB."""
    import duckdb
    import pyarrow as pa

    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    und = np.unique(np.stack([lo, hi], axis=1), axis=0)
    # orient every edge toward the higher (degree, id) end so each triangle
    # is found once and hub wedges stay small
    ids, inv = np.unique(und.ravel(), return_inverse=True)
    deg = np.bincount(inv, minlength=len(ids))
    rank = np.empty(len(ids), dtype=np.int64)
    rank[np.lexsort((ids, deg))] = np.arange(len(ids))
    u, v = rank[inv[0::2]], rank[inv[1::2]]
    tbl = pa.table({"a": np.minimum(u, v), "b": np.maximum(u, v)})
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.register("e", tbl)
        return int(
            con.execute(
                "SELECT count(*) FROM e e1 JOIN e e2 ON e1.b = e2.a "
                "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
            ).fetchone()[0]
        )
    finally:
        con.close()


def references(src, dst, pr_iters: int, lpa_iters: int, hits_iters: int, with_triangles: bool) -> dict:
    out = {
        "pagerank": pagerank(src, dst, pr_iters),
        "components": components(src, dst),
        "labelprop": label_propagation(src, dst, lpa_iters),
        "hits": hits(src, dst, hits_iters),
    }
    if with_triangles:
        out["triangles"] = triangle_count(src, dst)
    return out


# --------------------------------------------------------------------------
# checks: each returns None when the output matches, else a short reason
# --------------------------------------------------------------------------


def _aligned(pdf, ids, cols):
    pdf = pdf.sort_values("id", kind="mergesort")
    got_ids = pdf["id"].to_numpy(dtype=np.int64)
    if len(got_ids) != len(ids) or not np.array_equal(got_ids, ids):
        return None, f"vertex set differs ({len(got_ids)} vs {len(ids)} ids)"
    return [pdf[c].to_numpy() for c in cols], None


def check_close(pdf, ref, cols) -> str | None:
    ids, *want = ref
    got, err = _aligned(pdf, ids, cols)
    if err:
        return err
    for c, g, w in zip(cols, got, want):
        if not np.allclose(g, w, rtol=FLOAT_RTOL, atol=FLOAT_ATOL):
            return f"{c} differs: max abs error {np.max(np.abs(g - w)):.3g}"
    return None


def check_exact(pdf, ref, col) -> str | None:
    ids, want = ref
    got, err = _aligned(pdf, ids, [col])
    if err:
        return err
    bad = int(np.count_nonzero(got[0] != want))
    return f"{col} differs on {bad} vertices" if bad else None


def check_edges(pdf, src, dst) -> str | None:
    got = np.unique(np.stack([pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)], axis=1), axis=0)
    want = np.unique(np.stack([src, dst], axis=1), axis=0)
    if len(got) != len(pdf):
        return f"{len(pdf) - len(got)} duplicate edges"
    if not np.array_equal(got, want):
        return f"edge set differs ({len(got)} vs {len(want)} edges)"
    return None


def check_same(a, b, cols) -> str | None:
    """Resumed result vs the uninterrupted one: labels exact, scores equal
    to the last few ulps (the replay sums in shuffle-fetch order)."""
    a = a.sort_values("id", kind="mergesort").reset_index(drop=True)
    b = b.sort_values("id", kind="mergesort").reset_index(drop=True)
    if not np.array_equal(a["id"].to_numpy(), b["id"].to_numpy()):
        return "vertex set differs after resume"
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        same = np.allclose(x, y, rtol=1e-12, atol=0) if x.dtype.kind == "f" else np.array_equal(x, y)
        if not same:
            return f"{c} differs after resume"
    return None
