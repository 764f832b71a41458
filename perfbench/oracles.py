"""Single-process oracles for every result the benchmark times.

Each oracle re-derives a kernel's answer from the raw input arrays with
vectorized numpy or DuckDB, sharing no code with the Spark path:

  * pagerank            -- pull power iteration, damping 0.85, init 1/n
  * components          -- min vertex id per component (hash-min fixpoint
                           with pointer jumping)
  * label_propagation   -- synchronous LP, label = most frequent neighbour
                           label, ties to the lowest label, fixed rounds
  * triangles           -- DuckDB three-way join over the (degree, id) DAG
  * crawl_graph         -- url dictionary and edge set of a synthetic crawl,
                           rebuilt from ``synth.page_links`` (the input spec)

Edge inputs are (src, dst) int64 arrays of a symmetrized, loop-free,
duplicate-free graph; results are keyed by vertex id.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np
import pandas as pd


def index(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sorted vertex ids plus both endpoints mapped to positions in it.

    Positions preserve id order, so "lowest label" is the same under
    either numbering."""
    verts = np.unique(np.concatenate([src, dst]))
    return verts, np.searchsorted(verts, src), np.searchsorted(verts, dst)


def undirect(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Both directions, self-loops dropped, duplicates removed, sorted."""
    both = np.stack([np.concatenate([src, dst]), np.concatenate([dst, src])], axis=1)
    both = np.unique(both[both[:, 0] != both[:, 1]], axis=0)
    return both[:, 0].copy(), both[:, 1].copy()


def edge_keys(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Sorted scalar keys of an edge multiset (ids are < 2^31 here)."""
    return np.sort(src.astype(np.int64) * (1 << 31) + dst.astype(np.int64))


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int, damping: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    verts, s, d = index(src, dst)
    n = len(verts)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    if (out_deg == 0).any():
        raise ValueError("pagerank oracle needs out-degree >= 1 on every vertex")
    score = np.full(n, 1.0 / n)
    for _ in range(iters):
        score = (1.0 - damping) / n + damping * np.bincount(d, weights=score[s] / out_deg[s], minlength=n)
    return verts, score


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    verts, s, d = index(src, dst)
    lab = np.arange(len(verts))
    while True:
        new = lab.copy()
        np.minimum.at(new, d, lab[s])
        new = new[new]
        if np.array_equal(new, lab):
            return verts, verts[lab]
        lab = new


def label_propagation(src: np.ndarray, dst: np.ndarray, iters: int) -> tuple[np.ndarray, np.ndarray]:
    verts, s, d = index(src, dst)
    n = len(verts)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        keys, cnt = np.unique(d.astype(np.int64) * n + lab[s], return_counts=True)
        v, label = keys // n, keys % n
        order = np.lexsort((label, -cnt, v))  # per vertex: highest count, then lowest label
        v, label = v[order], label[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        lab = lab.copy()
        lab[v[first]] = label[first]
    return verts, verts[lab]


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    verts, s, d = index(src, dst)
    deg = np.bincount(s, minlength=len(verts))
    keep = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
    dag = pd.DataFrame({"u": s[keep], "v": d[keep]})
    with duckdb.connect() as con:
        con.register("dag", dag)
        return int(
            con.execute(
                "SELECT count(*) FROM dag a JOIN dag b ON a.v = b.u "
                "JOIN dag c ON c.u = a.u AND c.v = b.v"
            ).fetchone()[0]
        )


def crawl_graph(n: int, seed: int) -> tuple[dict[str, int], np.ndarray, np.ndarray]:
    """(url -> dense id, src ids, dst ids) of the link graph of n synthetic pages.

    Every page links to page urls only, so every link target is a known
    url. Per page, repeated targets count once (first occurrence kept).
    Dense ids follow degree descending, then url ascending, where degree
    counts each link once at each endpoint."""
    from gms_spark.synth import page_links, page_url

    n_sites = max(1, n // 10)
    urls = [page_url(i, n_sites) for i in range(n)]
    links = [(u, t) for i, u in enumerate(urls) for t in dict.fromkeys(page_links(i, n, seed))]
    deg = Counter(u for u, _ in links) + Counter(t for _, t in links)
    url_id = {u: k for k, u in enumerate(sorted(urls, key=lambda u: (-deg[u], u)))}
    src = np.fromiter((url_id[u] for u, _ in links), dtype=np.int64, count=len(links))
    dst = np.fromiter((url_id[t] for _, t in links), dtype=np.int64, count=len(links))
    return url_id, src, dst
