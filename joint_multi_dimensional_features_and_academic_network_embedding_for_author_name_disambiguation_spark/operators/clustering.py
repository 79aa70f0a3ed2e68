"""Per-block exact clustering: GHAC (average-linkage + modularity k-scan,
G8) and normalized spectral clustering with known k (G7) — the exact
per-block solvers the reference's headline runs use, as applyInPandas
operators with a threshold-CC fallback for oversized blocks.

Reference semantics (src/local_embedding/local_embedding.py:316-364; the
variant at src/cluster_pred/cluster_predict.py:258-307 differs only in
threshold):

  * similarity graph per block (zero diagonal), distance = −similarity;
  * n_components1 = #connected components of the full graph (sim > 0);
  * n_components  = #components after zeroing edges ≤ threshold (0.3);
  * for k from n_components down to n_components1: cut the average-linkage
    dendrogram at k clusters, score the partition with Newman modularity on
    the THRESHOLDED weighted graph, keep the best (strict >, so the largest
    k — the threshold-CC-like partition — wins ties, as in the reference).

Why it beats plain threshold-CC on heterogeneous blocks: the agglomerative
cut at k = n_components splits weak components at their weakest
average-linkage boundary, which can simultaneously cut a spurious
above-threshold bridge between dense sub-clusters AND re-attach a
sub-threshold member to its dense home cluster — threshold-CC can do
neither (it is exactly the k = n_components partition along threshold
edges).

Distributed shape: one block = one applyInPandas group (blocks are bounded
— the reference's worst is 3228 mentions; SURVEY §1.3). The per-block
solver is pure numpy: NN-chain average linkage is O(n²) time / O(n²)
memory, modularity is vectorized. Blocks above ``max_block_rows`` fall
back to thresholded union-find — identical semantics to the engine's
distributed hash-min CC — so the operator never materializes an oversized
dense matrix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .connected_components import min_label_roots


# --------------------------------------------------------------------------
# numpy core (also used directly by tests)
# --------------------------------------------------------------------------

def _n_components(mask: np.ndarray) -> int:
    ii, jj = np.nonzero(np.triu(mask, 1))
    return len(np.unique(min_label_roots(ii, jj, mask.shape[0])))


def _nn_chain_average(dist: np.ndarray) -> list[tuple[float, int, int]]:
    """Average-linkage merge list via the nearest-neighbor-chain algorithm
    (O(n²); exact for reducible linkages — average is reducible). Returns
    (height, rep_a, rep_b) sorted ascending by height; reps are the
    surviving row index of each cluster in the working matrix."""
    n = dist.shape[0]
    d = dist.astype("float64").copy()
    np.fill_diagonal(d, np.inf)
    size = np.ones(n)
    active = np.ones(n, dtype=bool)
    merges: list[tuple[float, int, int]] = []
    chain: list[int] = []
    for _ in range(n - 1):
        if not chain:
            chain.append(int(np.flatnonzero(active)[0]))
        while True:
            x = chain[-1]
            row = np.where(active, d[x], np.inf).copy()
            row[x] = np.inf
            y = int(np.argmin(row))  # ties: smallest index (argmin)
            if len(chain) >= 2 and y == chain[-2]:
                break
            chain.append(y)
        y = chain.pop()
        x = chain.pop()
        h = d[x, y]
        a, b = (x, y) if x < y else (y, x)
        merges.append((float(h), a, b))
        # Lance-Williams average linkage: cluster a absorbs b
        upd = (size[a] * d[a] + size[b] * d[b]) / (size[a] + size[b])
        d[a] = upd
        d[:, a] = upd
        d[a, a] = np.inf
        size[a] += size[b]
        active[b] = False
        d[b] = np.inf
        d[:, b] = np.inf
    merges.sort(key=lambda t: t[0])  # stable: equal heights keep merge order
    return merges


def _cut_k(n: int, merges: list[tuple[float, int, int]], k: int) -> np.ndarray:
    """Labels (0..k-1, order of first appearance) after the first n-k
    merges of the height-sorted merge list."""
    ab = np.array([(a, b) for _, a, b in merges[: max(0, n - k)]], dtype=np.int64)
    ab = ab.reshape(-1, 2)
    _, labels = np.unique(min_label_roots(ab[:, 0], ab[:, 1], n), return_inverse=True)
    return labels


def _modularity(w: np.ndarray, labels: np.ndarray) -> float:
    """Newman modularity of a partition on a symmetric weighted graph
    (python-louvain community.modularity semantics, zero diagonal)."""
    two_m = float(w.sum())
    if two_m == 0:
        return 0.0
    deg = w.sum(axis=1)
    q = 0.0
    for c in np.unique(labels):
        idx = labels == c
        q += w[np.ix_(idx, idx)].sum() / two_m - (deg[idx].sum() / two_m) ** 2
    return float(q)


def ghac_labels(sim: np.ndarray, threshold: float = 0.3) -> np.ndarray:
    """GHAC over one block's similarity matrix → integer labels.

    Mirrors GHAC at local_embedding.py:316-364: k scanned from the
    thresholded component count down to the raw component count, partition
    from the average-linkage dendrogram on −sim, winner by modularity on
    the thresholded graph (strict >, largest k wins ties)."""
    n = sim.shape[0]
    if n <= 1:
        return np.zeros(n, dtype=int)
    n1 = _n_components(sim > 0)
    thr = sim.copy()
    thr[thr <= threshold] = 0.0
    nc = _n_components(thr > 0)
    merges = _nn_chain_average(-sim)
    best_q, best = -np.inf, None
    for k in range(nc, n1 - 1, -1):
        labels = _cut_k(n, merges, k)
        q = _modularity(thr, labels)
        if q > best_q:
            best_q, best = q, labels
    return best


def fastnewman_labels(adj: np.ndarray) -> np.ndarray:
    """Greedy CNM agglomeration — the reference's FastNewman k-estimator
    (src/cluster_pred/cluster_predict.py:41-129): start from singleton
    communities, repeatedly merge the CONNECTED pair with maximum
    ΔQ = 2·(e_ij − a_i·a_j) (row-major first on ties, J merged into I),
    record Q = Σ e_nn − a_n² after each merge, and return the partition at
    the modularity argmax of the merge sequence (earliest — largest k —
    wins Q ties, matching np.argmax).

    ``adj``: symmetric adjacency (binary, as the reference feeds it from
    its edge graph; weights also work — CNM's formulas are weight-ready).
    """
    n = adj.shape[0]
    if n <= 1:
        return np.zeros(n, dtype=int)
    tot = float(adj.sum())
    if tot == 0:
        return np.arange(n)
    e = adj.astype("float64") / tot
    comms: list[list[int]] = [[i] for i in range(n)]
    best_q, best_part = -np.inf, None
    while len(comms) > 1:
        a = e.sum(axis=0)
        mask = np.triu(e != 0, 1)
        if not mask.any():
            break  # no connected pair left (disconnected remainder)
        dq = np.where(mask, 2.0 * (e - np.outer(a, a)), -np.inf)
        i, j = np.unravel_index(int(np.argmax(dq)), dq.shape)
        e[i, :] += e[j, :]
        e[:, i] += e[:, j]
        e = np.delete(np.delete(e, j, axis=0), j, axis=1)
        comms[i] = comms[i] + comms[j]
        del comms[j]
        q = float(np.trace(e) - (e.sum(axis=0) ** 2).sum())
        if q > best_q:
            best_q, best_part = q, [list(c) for c in comms]
    if best_part is None:
        best_part = comms
    labels = np.zeros(n, dtype=int)
    for lbl, mem in enumerate(best_part):
        for v in mem:
            labels[v] = lbl
    return labels


def _edge_betweenness(adj_list: list[list[int]], n: int) -> dict[tuple[int, int], float]:
    """Unweighted edge betweenness via Brandes' accumulation (one BFS per
    source, O(V·E)). Unnormalized — normalization scales every edge by the
    same constant, so the argmax the GN loop needs is identical."""
    eb: dict[tuple[int, int], float] = {}
    for s in range(n):
        dist = [-1] * n
        dist[s] = 0
        sigma = [0.0] * n
        sigma[s] = 1.0
        preds: list[list[int]] = [[] for _ in range(n)]
        order: list[int] = []
        queue = [s]
        qi = 0
        while qi < len(queue):
            v = queue[qi]
            qi += 1
            order.append(v)
            for w in adj_list[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = [0.0] * n
        for w in reversed(order):
            for v in preds[w]:
                c = sigma[v] / sigma[w] * (1.0 + delta[w])
                key = (v, w) if v < w else (w, v)
                eb[key] = eb.get(key, 0.0) + c
                delta[v] += c
    for k in eb:  # undirected: every edge accumulated from both endpoints
        eb[k] /= 2.0
    return eb


def gn_labels(adj: np.ndarray) -> np.ndarray:
    """Girvan–Newman community labels — the reference's GN k-estimator
    (src/cluster_pred/cluster_predict.py:174-255): repeatedly remove the
    max-betweenness edge; each time the component count changes, score the
    partition with modularity on the ORIGINAL graph; return the partition
    at the strict-max Q (initial partition = one community, Q = 0.0, so a
    graph with no positive-Q split stays one community — reference
    semantics). Ties in betweenness break to the lexicographically
    smallest edge (deterministic; the reference inherits dict order).

    ``adj``: symmetric adjacency; any nonzero entry is an edge (the
    reference feeds a binary graph).
    """
    n = adj.shape[0]
    if n <= 1:
        return np.zeros(n, dtype=int)
    mask = adj != 0
    np.fill_diagonal(mask, False)
    edges = {(i, j) for i, j in zip(*np.nonzero(np.triu(mask, 1)))}
    m = len(edges)
    if m == 0:
        return np.arange(n)
    deg = mask.sum(axis=0).astype("float64")

    def components(es: set) -> np.ndarray:
        ab = np.array(sorted(es), dtype=np.int64).reshape(-1, 2)
        return min_label_roots(ab[:, 0], ab[:, 1], n)

    def modularity_q(labels: np.ndarray) -> float:
        q = 0.0
        for lbl in np.unique(labels):
            memb = labels == lbl
            intra = mask[np.ix_(memb, memb)].sum()  # ordered pairs = 2×edges
            q += intra / (2.0 * m) - (deg[memb].sum() / (2.0 * m)) ** 2
        return float(q)

    best_q = 0.0
    best_labels = np.zeros(n, dtype=int)
    cur = set(edges)
    n_comp = 1
    while cur:
        adj_list: list[list[int]] = [[] for _ in range(n)]
        for a, b in cur:
            adj_list[a].append(b)
            adj_list[b].append(a)
        eb = _edge_betweenness(adj_list, n)
        drop = min(eb, key=lambda e: (-eb[e], e))
        cur.discard(drop)
        labels = components(cur)
        k = len(np.unique(labels))
        if k != n_comp:
            n_comp = k
            q = modularity_q(labels)
            if q > best_q:
                best_q, best_labels = q, labels
    return best_labels


def hdbscan_k(sim: np.ndarray, min_cluster_size: int = 3) -> int:
    """Density-based cluster-count estimate — the HDBSCAN-role G10
    estimator (reference src/cluster_pred/cluster_predict.py:132-160,
    which calls the hdbscan library with min_cluster_size=3 and counts
    ``len(set(fit_predict(...)))``). From-scratch here, the standard
    pipeline: distance = 1−sim (the reference feeds raw similarity into a
    distance slot — a documented quirk we do NOT copy), mutual-
    reachability with core-distance k = min_cluster_size, Prim MST,
    single-linkage merge tree, condensed tree at min_cluster_size, and
    excess-of-mass cluster selection (root unselectable; ties keep the
    parent, matching the library's strict `subtree > node` descent). The
    returned count follows the reference's ``len(set(labels))``: selected
    clusters + 1 if any point is noise.
    """
    n = int(sim.shape[0])
    if n == 0:
        return 0
    mcs = max(2, int(min_cluster_size))
    if n < mcs:
        return 1  # every point is noise → labels == {-1}
    d = 1.0 - sim.astype("float64")
    np.fill_diagonal(d, 0.0)
    d = np.maximum(d, 0.0)
    # core distance: distance to the (min_cluster_size)-th neighbor
    # counting the point itself (library min_samples convention) — i.e.
    # the (mcs−1)-th OTHER point, index mcs−2 in the self-excluded sort
    srt = np.sort(np.where(np.eye(n, dtype=bool), np.inf, d), axis=1)
    core = srt[:, min(mcs - 2, n - 2)]
    mreach = np.maximum(np.maximum.outer(core, core), d)
    np.fill_diagonal(mreach, 0.0)

    # Prim MST over the dense mutual-reachability graph — O(n²), same
    # budget as the sibling dense estimators
    in_tree = np.zeros(n, dtype=bool)
    in_tree[0] = True
    best = mreach[0].copy()
    best_from = np.zeros(n, dtype=int)
    mst: list[tuple[float, int, int]] = []
    for _ in range(n - 1):
        cand = np.where(in_tree, np.inf, best)
        v = int(np.argmin(cand))
        mst.append((float(cand[v]), int(best_from[v]), v))
        in_tree[v] = True
        upd = mreach[v] < best
        best[upd] = mreach[v][upd]
        best_from[upd] = v
    mst.sort()

    # single-linkage merge tree (leaves 0..n-1, merges n..2n-2)
    parent = np.arange(2 * n - 1)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = int(parent[x])
        return x

    size = np.ones(2 * n - 1, dtype=int)
    children: dict[int, tuple[int, int]] = {}
    merge_w: dict[int, float] = {}
    nxt = n
    for w, u, v in mst:
        ru, rv = find(u), find(v)
        children[nxt] = (ru, rv)
        merge_w[nxt] = w
        size[nxt] = size[ru] + size[rv]
        parent[ru] = parent[rv] = nxt
        nxt += 1
    root = nxt - 1

    big_lam = 1e12  # λ for zero-distance merges (identical points)

    def lam(w: float) -> float:
        return big_lam if w <= 0.0 else min(1.0 / w, big_lam)

    # condensed tree: descend shedding sub-mcs sides; stability(C) =
    # Σ_points (λ_leave − λ_birth). `pts` counts every point that ever
    # belonged to the condensed cluster's subtree (= its flat members
    # when selected). Iterative (explicit work queue + bottom-up pass) —
    # a recursive walk blows Python's stack on chain-structured blocks of
    # a few thousand points, well inside max_block_rows territory.
    clusters: list[dict] = []
    work: list[tuple[int, float, int | None]] = [(root, 0.0, None)]
    while work:
        node, bl, parent_idx = work.pop()
        stab = 0.0
        cur = node
        remaining = int(size[node])
        pts = int(size[node])
        while True:
            a, b = children[cur]
            l = lam(merge_w[cur])
            big = [x for x in (a, b) if size[x] >= mcs]
            if len(big) == 2:
                stab += remaining * (l - bl)
                idx = len(clusters)
                clusters.append({"stab": stab, "children": [], "pts": pts})
                work.append((a, l, idx))
                work.append((b, l, idx))
                break
            if len(big) == 1:
                small = b if big[0] == a else a
                stab += int(size[small]) * (l - bl)
                cur = big[0]
                remaining = int(size[cur])
                continue
            stab += remaining * (l - bl)
            idx = len(clusters)
            clusters.append({"stab": stab, "children": [], "pts": pts})
            break
        if parent_idx is not None:
            clusters[parent_idx]["children"].append(idx)

    if not clusters[0]["children"]:
        return 1  # never split into two dense clusters → all noise

    # excess-of-mass selection, bottom-up (children always have a larger
    # index than their parent). Ties keep the PARENT — the library's
    # `subtree_stability > stability[node]` check; ties are common here
    # because equal similarities give zero-persistence merges.
    n_cl = len(clusters)
    sel_stab = [0.0] * n_cl
    sel_list: list[list[int]] = [[] for _ in range(n_cl)]
    for idx in range(n_cl - 1, -1, -1):
        c = clusters[idx]
        if not c["children"]:
            sel_stab[idx] = c["stab"]
            sel_list[idx] = [idx]
            continue
        child_stab = sum(sel_stab[ch] for ch in c["children"])
        if child_stab > c["stab"]:
            sel_stab[idx] = child_stab
            sel_list[idx] = [x for ch in c["children"] for x in sel_list[ch]]
        else:
            sel_stab[idx] = c["stab"]
            sel_list[idx] = [idx]

    selected = [x for ch in clusters[0]["children"] for x in sel_list[ch]]
    covered = sum(clusters[i]["pts"] for i in selected)
    return len(selected) + (1 if covered < n else 0)


def _kmeans_once(x: np.ndarray, k: int, seed: int, iters: int) -> tuple[np.ndarray, float]:
    """One deterministic Lloyd run with k-means++ seeding; returns
    (labels, inertia)."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    centers = [x[int(rng.integers(n))]]
    for _ in range(1, k):
        d2 = np.min(
            [np.sum((x - c) ** 2, axis=1) for c in centers], axis=0
        )
        tot = d2.sum()
        if tot == 0:
            centers.append(x[int(rng.integers(n))])
            continue
        centers.append(x[int(rng.choice(n, p=d2 / tot))])
    c = np.array(centers)
    labels = np.zeros(n, dtype=int)
    for it in range(iters):
        dist = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        new_labels = dist.argmin(axis=1)
        if it > 0 and (new_labels == labels).all():
            break
        labels = new_labels
        for j in range(k):
            pts = x[labels == j]
            if len(pts):
                c[j] = pts.mean(axis=0)
    inertia = float(((x - c[labels]) ** 2).sum())
    return labels, inertia


def _kmeans(x: np.ndarray, k: int, seed: int = 42, iters: int = 25, n_init: int = 8) -> np.ndarray:
    """Deterministic k-means: ``n_init`` seeded k-means++ restarts, keep
    the lowest-inertia run (sklearn's n_init discipline — a single Lloyd
    run lands in local optima on spectral embeddings and silently splits
    a true cluster). Seeds are seed..seed+n_init-1, so the result is a
    pure function of (x, k, seed)."""
    best_labels, best_inertia = None, np.inf
    for s in range(n_init):
        labels, inertia = _kmeans_once(x, k, seed + s, iters)
        # strict < : earliest seed wins ties, keeping determinism
        if inertia < best_inertia:
            best_labels, best_inertia = labels, inertia
    return best_labels


def spectral_labels(sim: np.ndarray, k: int, seed: int = 42) -> np.ndarray:
    """Normalized spectral clustering with known k over one block's
    similarity matrix (reference: SpectralClustering(n_clusters=k,
    affinity='precomputed') at local_embedding.py:242-271,517-519 — the
    headline 真实簇个数 runs). Top-k eigenvectors of D^-½·W·D^-½
    (numpy eigh), row-normalized, then deterministic k-means."""
    n = sim.shape[0]
    if n == 0:
        return np.zeros(0, dtype=int)
    if k >= n:
        return np.arange(n)
    if k <= 1:
        return np.zeros(n, dtype=int)
    d = sim.sum(axis=1)
    inv_sqrt = np.where(d > 0, 1.0 / np.sqrt(np.where(d > 0, d, 1.0)), 0.0)
    m = sim * inv_sqrt[:, None] * inv_sqrt[None, :]
    vals, vecs = np.linalg.eigh(m)
    u = vecs[:, -k:]
    norms = np.linalg.norm(u, axis=1, keepdims=True)
    u = u / np.where(norms > 0, norms, 1.0)
    return _kmeans(u, k, seed=seed)


def spectral_cluster(
    scored: DataFrame,
    members: DataFrame,
    block_col: str = "block_key",
    id_col: str = "id",
    score_col: str = "score",
    k_col: str | None = None,
    threshold: float = 0.3,
    max_block_rows: int = 2048,
) -> DataFrame:
    """Per-block spectral clustering: (block_key, id, component).

    k per block comes from ``k_col`` on members (the reference's true-k
    runs) or, when None, from the thresholded component count (the
    predicted-k analogue). Oversized blocks fall back to thresholded
    union-find like ghac_cluster.
    """
    edges = scored.select(
        F.col(block_col).alias("_bk"),
        F.col("id_a").cast("string").alias("_a"),
        F.col("id_b").cast("string").alias("_b"),
        F.col(score_col).cast("double").alias("_s"),
        F.lit(None).cast("long").alias("_k"),
    )
    kv = F.col(k_col).cast("long") if k_col else F.lit(None).cast("long")
    verts = members.select(
        F.col(block_col).alias("_bk"),
        F.col(id_col).cast("string").alias("_a"),
        F.col(id_col).cast("string").alias("_b"),
        F.lit(0.0).alias("_s"),
        kv.alias("_k"),
    )
    grouped = edges.unionByName(verts)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return _solve_spectral_block(pdf, threshold, max_block_rows)

    return grouped.groupBy("_bk").applyInPandas(
        solve, schema="block_key string, id string, component string"
    )


def _solve_spectral_block(
    pdf: pd.DataFrame, threshold: float, max_block_rows: int
) -> pd.DataFrame:
    bk = pdf["_bk"].iloc[0]
    ids = sorted(set(pdf["_a"]).union(pdf["_b"]))
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    if n > max_block_rows:
        # guard FIRST: the fallback never touches a dense matrix
        labels = _threshold_cc_labels_edges(pdf, pos, n, threshold)
    else:
        sim = _dense_sim(pdf, pos, n)
        ks = pdf["_k"].dropna()
        thr = sim.copy()
        thr[thr <= threshold] = 0.0
        k = int(ks.iloc[0]) if len(ks) else int(_n_components(thr > 0))
        labels = spectral_labels(sim, k)
    return _labels_to_components(bk, ids, labels)


def _threshold_cc_labels(sim: np.ndarray, threshold: float) -> np.ndarray:
    """Union-find components of the thresholded graph — identical semantics
    to the engine's distributed hash-min CC (the oversized-block path)."""
    ii, jj = np.nonzero(np.triu(sim > threshold, 1))
    _, labels = np.unique(min_label_roots(ii, jj, sim.shape[0]), return_inverse=True)
    return labels


def _threshold_cc_labels_edges(
    pdf: pd.DataFrame, pos: dict, n: int, threshold: float
) -> np.ndarray:
    """Thresholded union-find DIRECTLY over the (a, b, s) edge rows — the
    oversized-block fallback. O(|E|) memory: never allocates the dense
    n×n matrix, which is the whole point of the guard (an 100k-row block
    would otherwise allocate 80 GB before the fallback could run)."""
    keep = (pdf["_s"] > threshold).to_numpy()
    ii = pdf["_a"][keep].map(pos).to_numpy(dtype=np.int64)
    jj = pdf["_b"][keep].map(pos).to_numpy(dtype=np.int64)
    _, labels = np.unique(min_label_roots(ii, jj, n), return_inverse=True)
    return labels


def _dense_sim(pdf: pd.DataFrame, pos: dict, n: int) -> np.ndarray:
    """Dense symmetric similarity matrix from edge rows (max over
    duplicates, zero diagonal). Call ONLY behind the max_block_rows
    guard — the dense solvers' O(n²) input."""
    sim = np.zeros((n, n))
    for a, b, s in zip(pdf["_a"], pdf["_b"], pdf["_s"]):
        i, j = pos[a], pos[b]
        if i != j:
            v = max(s, sim[i, j])
            sim[i, j] = v
            sim[j, i] = v
    return sim


def _labels_to_components(bk, ids: list, labels: np.ndarray) -> pd.DataFrame:
    """(block_key, id, component) rows; component = block key + '#' +
    lexicographically-smallest member id — deterministic, comparable to
    connected_components output."""
    comp = {}
    for lbl in np.unique(labels):
        mem = [ids[i] for i in np.flatnonzero(labels == lbl)]
        name = f"{bk}#{min(mem)}"
        for m in mem:
            comp[m] = name
    return pd.DataFrame({"block_key": bk, "id": ids, "component": [comp[i] for i in ids]})


def estimate_k(
    scored: DataFrame,
    members: DataFrame,
    block_col: str = "block_key",
    id_col: str = "id",
    score_col: str = "score",
    threshold: float = 0.3,
    max_block_rows: int = 2048,
    max_gn_edges: int = 300,
) -> DataFrame:
    """Per-block cluster-count estimation, five estimators (G10).

    The reference ships several k estimators (HDBSCAN at
    src/cluster_pred/cluster_predict.py:132-160, FastNewman :41-129,
    Girvan-Newman :174-255). Here the three that map onto this engine's
    solvers:

      k_cc         — thresholded-component count (the default, = what
                     spectral_cluster uses when no true k is given);
      k_modularity — cluster count at the modularity argmax of the
                     average-linkage dendrogram k-scan (``ghac_labels``);
      k_fastnewman — greedy CNM agglomeration on the thresholded BINARY
                     adjacency (``fastnewman_labels``) — the reference's
                     FastNewman estimator verbatim;
      k_hdbscan    — density estimate via mutual-reachability MST +
                     condensed-tree excess-of-mass at min_cluster_size=3
                     (``hdbscan_k``) — the reference's predicted-k
                     headline estimator (cluster_predict.py:132-160);
      k_gn         — Girvan–Newman: iterative max-betweenness edge
                     removal, partition at the modularity argmax
                     (``gn_labels``, reference cluster_predict.py:174-255).

    Returns (block_key, n, k_cc, k_modularity, k_fastnewman, k_hdbscan,
    k_gn). Oversized blocks report the dense estimators = k_cc (the same
    union-find fallback ghac_cluster uses); k_gn additionally falls back
    to k_cc when the thresholded graph has more than ``max_gn_edges``
    edges — its global betweenness loop is O(E²·V), affordable only on
    the sparse post-threshold graphs it is meant for.
    """
    edges = scored.select(
        F.col(block_col).alias("_bk"),
        F.col("id_a").cast("string").alias("_a"),
        F.col("id_b").cast("string").alias("_b"),
        F.col(score_col).cast("double").alias("_s"),
    )
    verts = members.select(
        F.col(block_col).alias("_bk"),
        F.col(id_col).cast("string").alias("_a"),
        F.col(id_col).cast("string").alias("_b"),
        F.lit(0.0).alias("_s"),
    )
    grouped = edges.unionByName(verts)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return _solve_estimate_k_block(pdf, threshold, max_block_rows, max_gn_edges)

    return grouped.groupBy("_bk").applyInPandas(
        solve,
        schema=(
            "block_key string, n long, k_cc long, k_modularity long, "
            "k_fastnewman long, k_hdbscan long, k_gn long"
        ),
    )


def _solve_estimate_k_block(
    pdf: pd.DataFrame, threshold: float, max_block_rows: int, max_gn_edges: int = 300
) -> pd.DataFrame:
    bk = pdf["_bk"].iloc[0]
    ids = sorted(set(pdf["_a"]).union(pdf["_b"]))
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    if n > max_block_rows or n <= 1:
        # guard FIRST: k_cc needs only union-find over the edge rows —
        # the dense matrix is never allocated for oversized blocks
        k_cc = len(np.unique(_threshold_cc_labels_edges(pdf, pos, n, threshold)))
        k_mod = k_fn = k_hd = k_gn = k_cc
    else:
        sim = _dense_sim(pdf, pos, n)
        thr = sim.copy()
        thr[thr <= threshold] = 0.0
        k_cc = _n_components(thr > 0)
        k_mod = len(np.unique(ghac_labels(sim, threshold)))
        k_fn = len(np.unique(fastnewman_labels((thr > 0).astype("float64"))))
        k_hd = hdbscan_k(sim)
        adj = thr > 0
        if int(np.triu(adj, 1).sum()) <= max_gn_edges:
            k_gn = len(np.unique(gn_labels(adj)))
        else:
            k_gn = k_cc  # documented guard: GN's loop is O(E²·V)
    return pd.DataFrame(
        {
            "block_key": [bk],
            "n": [n],
            "k_cc": [k_cc],
            "k_modularity": [k_mod],
            "k_fastnewman": [k_fn],
            "k_hdbscan": [k_hd],
            "k_gn": [k_gn],
        }
    )


# --------------------------------------------------------------------------
# DataFrame operator
# --------------------------------------------------------------------------

def ghac_cluster(
    scored: DataFrame,
    members: DataFrame,
    block_col: str = "block_key",
    id_col: str = "id",
    score_col: str = "score",
    threshold: float = 0.3,
    max_block_rows: int = 2048,
) -> DataFrame:
    """Per-block GHAC labels: (block_key, id, component).

    scored: pair rows (block_col, id_a, id_b, score_col);
    members: (block_col, id_col) — one row per vertex, so vertices with no
    scored pair still get a (singleton) label.

    component = the lexicographically-smallest member id of the cluster,
    prefixed by the block key — deterministic and directly comparable to
    connected_components output. Blocks above ``max_block_rows`` are solved
    with thresholded union-find (≡ hash-min CC) instead of the dense
    O(n²) GHAC — the documented scale guard.
    """
    edges = scored.select(
        F.col(block_col).alias("_bk"),
        F.col("id_a").cast("string").alias("_a"),
        F.col("id_b").cast("string").alias("_b"),
        F.col(score_col).cast("double").alias("_s"),
    )
    verts = members.select(
        F.col(block_col).alias("_bk"),
        F.col(id_col).cast("string").alias("_a"),
        F.col(id_col).cast("string").alias("_b"),
        F.lit(0.0).alias("_s"),
    )
    grouped = edges.unionByName(verts)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return _solve_ghac_block(pdf, threshold, max_block_rows)

    return grouped.groupBy("_bk").applyInPandas(
        solve, schema="block_key string, id string, component string"
    )


def _solve_ghac_block(
    pdf: pd.DataFrame, threshold: float, max_block_rows: int
) -> pd.DataFrame:
    bk = pdf["_bk"].iloc[0]
    ids = sorted(set(pdf["_a"]).union(pdf["_b"]))
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    if n > max_block_rows:
        # guard FIRST: the fallback never touches a dense matrix
        labels = _threshold_cc_labels_edges(pdf, pos, n, threshold)
    else:
        labels = ghac_labels(_dense_sim(pdf, pos, n), threshold)
    return _labels_to_components(bk, ids, labels)
