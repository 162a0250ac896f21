"""Reference answers computed on one node, apart from the Spark engine.

- components: numpy union-find (hook the larger root under the smaller,
  then compress), so each label is the minimum id in its component;
- PageRank for a fixed superstep count: numpy power iteration with the
  engine's documented semantics (duplicate edges count, dangling mass is
  dropped, p0 = 1/n);
- PageRankDelta for a fixed superstep count: the numpy spec
  ``ligra_spark.oracle.pagerank_delta``;
- triangles: a vectorized count over the degree-ordered orientation;
- dense url ids: the lexicographic rank of the generated urls (made by
  the generator, ``inputs.crawl_inputs``).

Recompute them for any seed:

    python3 perfbench/reference.py --workload rmat_frontier --seed 7
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    parent = np.arange(n, dtype=np.int64)
    while True:
        ru, rv = parent[src], parent[dst]
        lo, hi = np.minimum(ru, rv), np.maximum(ru, rv)
        live = lo != hi
        if not live.any():
            return parent
        np.minimum.at(parent, hi[live], lo[live])
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, supersteps: int, damping: float = 0.85) -> np.ndarray:
    deg = np.bincount(src, minlength=n).astype(np.float64)
    p = np.full(n, 1.0 / n)
    for _ in range(supersteps):
        p = damping * np.bincount(dst, weights=p[src] / deg[src], minlength=n) + (1.0 - damping) / n
    return p


def pagerank_delta(n: int, src: np.ndarray, dst: np.ndarray, supersteps: int) -> np.ndarray:
    from ligra_spark.oracle import pagerank_delta as spec

    return spec(n, src, dst, max_iters=supersteps)[0]


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> int:
    """Orient each undirected edge from the lower (degree, id) end, then
    count wedges u->v->w closed by an oriented edge u->w."""
    deg = np.bincount(src, minlength=n)
    key = deg * n + np.arange(n)
    fwd = key[src] < key[dst]
    u, v = src[fwd], dst[fwd]
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    start = np.searchsorted(u, np.arange(n + 1))
    # wedges: for each oriented edge (u, v), every oriented edge (v, w)
    fan = start[v + 1] - start[v]
    wu = np.repeat(u, fan)
    offs = np.arange(fan.sum()) - np.repeat(np.cumsum(fan) - fan, fan)
    ww = v[np.repeat(start[v], fan) + offs]
    closing = np.sort(u * n + v)
    probe = wu * n + ww
    hit = np.searchsorted(closing, probe)
    hit = np.minimum(hit, closing.size - 1)
    return int((closing[hit] == probe).sum()) if closing.size else 0


def crawl_expected(data: dict, supersteps: int) -> dict:
    """Edges and PageRank of the generated crawl under lexicographic ids."""
    rank = data["url_rank"]
    src, dst = rank[data["src"]], rank[data["dst"]]
    return {"src": src, "dst": dst, "pagerank": pagerank(data["n"], src, dst, supersteps)}


def rmat_expected(data: dict, prd_supersteps: int) -> dict:
    n, src, dst = data["n"], data["src"], data["dst"]
    return {
        "components": components(n, src, dst),
        "pagerank_delta": pagerank_delta(n, src, dst, prd_supersteps),
        "triangles": triangles(n, src, dst),
    }


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else float(10 * np.log10(255.0**2 / mse))


def _summary(workload: str, seed: int) -> dict:
    import inputs
    import workloads

    bench = os.path.dirname(os.path.abspath(__file__))
    if workload == "rmat_frontier":
        data = inputs.rmat_inputs(bench, seed)
        ref = rmat_expected(data, workloads.PRD_SUPERSTEPS)
        return {
            "n": data["n"],
            "edges": int(data["src"].size),
            "components": int(np.unique(ref["components"]).size),
            "triangles": ref["triangles"],
            "pagerank_delta_sum": float(ref["pagerank_delta"].sum()),
        }
    if workload == "crawl_pagerank":
        data = inputs.crawl_inputs(bench, seed)
        ref = crawl_expected(data, workloads.PR_SUPERSTEPS)
        pr = ref["pagerank"]
        return {
            "pages": data["n"],
            "html_mb": data["html_bytes"] / 1e6,
            "in_crawl_links": int(ref["src"].size),
            "pagerank_supersteps": workloads.PR_SUPERSTEPS,
            "pagerank_top_id": int(pr.argmax()),
            "pagerank_sum": float(pr.sum()),
        }
    data = inputs.media_inputs(bench, seed)
    return {
        "images": data["n"],
        "formats": {f: data["format"].count(f) for f in sorted(set(data["format"]))},
        "coded_bytes": int(data["payload_sizes"].sum()),
        "sha256": data["sha256"],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_pagerank", "rmat_frontier", "media_decode"])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    print(json.dumps(_summary(args.workload, args.seed), indent=1))


if __name__ == "__main__":
    main()
