"""Blocked clustering — the G3 entity-clustering shape.

Ref: cross-year plant clustering
(src/pudl/analysis/record_linkage/link_cross_year.py:34-300): build a
pairwise-distance structure, block it so the quadratic work happens
inside bounded groups, cluster within each block with an in-memory
kernel, and emit stable cluster ids. The reference runs
DBSCAN/agglomerative (sklearn) per block; here the in-block kernel is
a NumPy single-linkage threshold clustering (union-find over pairs
with cosine >= threshold) — deterministic, dependency-free, and
swappable for sklearn without touching the Spark plumbing.

Scale shape: LSH bucketing bounds block sizes, the blocks shuffle
once, and each block's O(n_block^2) kernel runs in one applyInPandas
task — the same island pattern as the tensor-imputation step (M1).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pudl_spark.functions.similarity import _hyperplanes, lsh_signature_expr

CLUSTER_SCHEMA = "vec_id long, block long, cluster_id long"


def _cluster_block(pdf: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Single-linkage components over cosine >= threshold (NumPy).

    The similarity replays the SQL reduce-fold bit-for-bit (ADVICE
    r7): dot and squared-norm accumulate dimension-by-dimension in
    index order — each product an exactly-rounded double multiply,
    each += an exactly-rounded double add, no FMA and no BLAS
    pairwise reassociation — and cosine divides dot by the rounded
    norm product, exactly the `dot_expr(a,b) / (nrm_a * nrm_b)`
    expression shape the DuckDB oracles fold. A pair whose cosine
    sits within an ulp of the threshold therefore cannot flip the
    edge set between this kernel and the oracle (a `unit @ unit.T`
    matmul could, via reassociation/FMA in the last ulp).
    """
    import numpy as np

    ids = pdf["vec_id"].to_numpy()
    mat = np.array(pdf["embedding"].tolist(), dtype="float64")
    d = mat.shape[1] if mat.ndim == 2 else 0
    dot = np.zeros((len(ids), len(ids)))
    sq = np.zeros(len(ids))
    for t in range(d):
        col = mat[:, t]
        dot += col[:, None] * col[None, :]
        sq += col * col
    norms = np.sqrt(sq)
    norms[norms == 0] = 1.0
    sim = dot / (norms[:, None] * norms[None, :])
    n = len(ids)
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        for j in range(i + 1, n):
            if sim[i, j] >= threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    roots = [find(i) for i in range(n)]
    cluster_ids = {}
    for i, r in enumerate(roots):
        cluster_ids.setdefault(r, int(ids[[k for k, rr in enumerate(roots)
                                           if rr == r]].min()))
    return pd.DataFrame({
        "vec_id": ids,
        "block": pdf["block"].to_numpy(),
        "cluster_id": [cluster_ids[r] for r in roots],
    })


def _pairwise_distances(mat, metric: str):
    """Dense pairwise distance matrix (euclidean or cosine)."""
    import numpy as np

    if metric == "euclidean":
        sq = np.sum(mat * mat, axis=1)
        d2 = sq[:, None] + sq[None, :] - 2.0 * (mat @ mat.T)
        np.maximum(d2, 0.0, out=d2)
        return np.sqrt(d2)
    if metric == "cosine":
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        return 1.0 - unit @ unit.T
    raise ValueError(f"unknown metric: {metric}")


def _dbscan_precomputed(dist, eps: float, min_samples: int = 2):
    """DBSCAN on a precomputed distance matrix (textbook Ester et al.
    1996 semantics, matching sklearn: core point = >= min_samples
    points within eps INCLUDING itself; clusters are eps-graph
    components over core points plus their border points; everything
    else is labeled -1).
    """
    import numpy as np

    n = dist.shape[0]
    within = dist <= eps
    core = within.sum(axis=1) >= min_samples
    labels = np.full(n, -1, dtype=np.int64)
    cluster = 0
    for seed_pt in range(n):
        if not core[seed_pt] or labels[seed_pt] != -1:
            continue
        labels[seed_pt] = cluster
        frontier = [seed_pt]
        while frontier:
            p = frontier.pop()
            for q in np.nonzero(within[p])[0]:
                if labels[q] == -1:
                    labels[q] = cluster
                    if core[q]:
                        frontier.append(int(q))
        cluster += 1
    return labels


def _agglomerate_average(dist, threshold: float):
    """Average-linkage (UPGMA) agglomerative clustering with a
    distance threshold: repeatedly merge the two clusters with the
    smallest average pairwise distance while that distance is below
    ``threshold`` (sklearn AgglomerativeClustering semantics:
    distance_threshold is the value ABOVE OR AT which clusters are
    not merged). Returns integer labels. O(n^3) — in-block sizes are
    bounded by the LSH blocking.
    """
    import numpy as np

    n = dist.shape[0]
    members = {i: [i] for i in range(n)}
    d = dist.astype("float64").copy()
    np.fill_diagonal(d, np.inf)
    cluster_dist = {}
    keys = list(members)
    for ai in range(len(keys)):
        for bi in range(ai + 1, len(keys)):
            cluster_dist[(keys[ai], keys[bi])] = d[keys[ai], keys[bi]]
    next_id = n
    while len(members) > 1:
        (a, b), best = min(cluster_dist.items(), key=lambda kv: kv[1])
        if best >= threshold:
            break
        merged = members.pop(a) + members.pop(b)
        members[next_id] = merged
        stale = [k for k in cluster_dist if a in k or b in k]
        for k in stale:
            del cluster_dist[k]
        for other, om in members.items():
            if other == next_id:
                continue
            total = sum(dist[i, j] for i in merged for j in om)
            cluster_dist[(other, next_id)] = total / (len(merged) * len(om))
        next_id += 1
    labels = [0] * n
    for lab, (_, mem) in enumerate(sorted(members.items())):
        for i in mem:
            labels[i] = lab
    return np.asarray(labels, dtype=np.int64)


def cluster_records_cross_year(pdf: pd.DataFrame,
                               eps: float = 0.5,
                               split_threshold: float = 0.5,
                               orphan_threshold: float = 0.5,
                               metric: str = "euclidean",
                               year_penalty: float = 10000.0,
                               feature_cols: list[str] | None = None,
                               year_col: str = "report_year"
                               ) -> "pd.Series":
    """The reference's full cross-year entity-clustering pipeline
    (ref: src/pudl/analysis/record_linkage/link_cross_year.py:34-300),
    as an in-block kernel over a pandas frame:

    1. pairwise distances + ``year_penalty`` for same-year pairs
       (an entity reports once per year, so same-year records are
       near-never the same entity); diagonal forced to 0
       (DistanceMatrix, :43-77).
    2. DBSCAN(min_samples=2) seeds clusters; isolated records -> -1
       (cluster_records_dbscan, :137-167).
    3. clusters holding >1 record from one year are re-split with
       average-linkage agglomerative clustering at
       ``split_threshold``, each sub-cluster taking a fresh label
       (split_clusters, :178-238).
    4. orphans (-1) become singleton clusters; a cluster-level
       average-distance matrix (reference normalization: total /
       (|a|+|b|)) feeds one more agglomerative pass at
       ``orphan_threshold``, attaching orphans to near clusters or
       leaving them alone (match_orphaned_records, :247-300).

    Returns a pandas Series of integer cluster labels aligned to
    ``pdf``. Wrap in applyInPandas (see
    ``cluster_embeddings_cross_year``) to run one kernel per block.
    """
    import numpy as np

    if feature_cols is None:
        mat = np.array(pdf["embedding"].tolist(), dtype="float64")
    else:
        mat = pdf[feature_cols].to_numpy(dtype="float64")
    years = pdf[year_col].to_numpy()
    n = len(pdf)
    if n == 0:
        return pd.Series([], dtype="int64")
    dist = _pairwise_distances(mat, metric)
    same_year = years[:, None] == years[None, :]
    dist[same_year] = year_penalty
    np.fill_diagonal(dist, 0.0)

    labels = _dbscan_precomputed(dist, eps=eps, min_samples=2)

    # -- split clusters with duplicated years ------------------------
    next_label = int(labels.max()) + 1 if n else 0
    for lab in np.unique(labels):
        if lab == -1:
            continue
        inds = np.nonzero(labels == lab)[0]
        ys = years[inds]
        if len(np.unique(ys)) == len(ys):
            continue
        sub = _agglomerate_average(dist[np.ix_(inds, inds)],
                                   split_threshold)
        for new_lab in np.unique(sub):
            labels[inds[sub == new_lab]] = next_label
            next_label += 1

    # -- re-attach orphans via cluster-level agglomeration -----------
    groups = [[int(i)] for i in np.nonzero(labels == -1)[0]]
    groups += [list(map(int, np.nonzero(labels == lab)[0]))
               for lab in np.unique(labels) if lab != -1]
    k = len(groups)
    if k > 1:
        avg = np.zeros((k, k))
        for a in range(k):
            for b in range(a):
                total = dist[np.ix_(groups[a], groups[b])].sum()
                # reference normalization: |a|+|b|, not |a|*|b|
                # (get_average_distance_matrix, :96-117)
                avg[a, b] = avg[b, a] = total / (len(groups[a])
                                                 + len(groups[b]))
        merged = _agglomerate_average(avg, orphan_threshold)
        for gi, lab in enumerate(merged):
            labels[groups[gi]] = lab
    else:
        labels[:] = 0
    return pd.Series(labels, dtype="int64")


def cluster_embeddings_cross_year(df: DataFrame, id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  year_col: str = "report_year",
                                  eps: float = 0.5,
                                  split_threshold: float = 0.5,
                                  orphan_threshold: float = 0.5,
                                  metric: str = "cosine",
                                  n_planes: int = 6, dim: int = 64,
                                  seed: int = 42) -> DataFrame:
    """G3 at scale: LSH-block the records, run the full reference
    pipeline (:func:`cluster_records_cross_year`) inside each block
    via applyInPandas, and emit stable ids (min member id per final
    cluster). Same island shape as the single-linkage variant —
    blocking bounds the O(n_block^2) distance matrix.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    blocked = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col(year_col).alias("report_year"),
        lsh_signature_expr(F.col(vec_col), planes).alias("block"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        labs = cluster_records_cross_year(
            pdf, eps=eps, split_threshold=split_threshold,
            orphan_threshold=orphan_threshold, metric=metric)
        out = pd.DataFrame({
            "vec_id": pdf["vec_id"],
            "block": pdf["block"],
            "__lab": labs,
        })
        out["cluster_id"] = out.groupby("__lab")["vec_id"].transform("min")
        return out[["vec_id", "block", "cluster_id"]]

    return blocked.groupBy("block").applyInPandas(kernel, CLUSTER_SCHEMA)


def cluster_embeddings_blocked(df: DataFrame, id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               threshold: float = 0.8,
                               n_planes: int = 6, dim: int = 64,
                               seed: int = 42) -> DataFrame:
    """LSH-block then single-linkage cluster within each block.

    Returns (vec_id, block, cluster_id) with cluster_id = min member
    id. Like the reference's blocked DBSCAN, clusters never span
    blocks — the blocking trades a little recall for making the
    quadratic kernel tractable; multi-probe or banded signatures
    tighten it.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    blocked = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        lsh_signature_expr(F.col(vec_col), planes).alias("block"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _cluster_block(pdf, threshold)

    return blocked.groupBy("block").applyInPandas(kernel, CLUSTER_SCHEMA)


def cluster_embeddings_ivf(df: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.4,
                           seed_modulus: int = 97,
                           nprobe: int = 2,
                           centroid_factor: float = 2.0) -> DataFrame:
    """G3 clustering with IVF-cell blocking: the same blocked
    single-linkage kernel as :func:`cluster_embeddings_blocked`, but
    the block is the vector's nearest-seed CELL from
    ``ivf_partitioned_argmax`` (VERDICT r6 next-round #8) — the one
    assignment primitive now shared by SemDeDup, ANN, and clustering.

    Versus hyperplane-LSH blocking: LSH blocks are data-independent
    bit signatures (2^n_planes fixed blocks — fine until the corpus
    concentrates in a few orthants); IVF cells FOLLOW the data (seeds
    are a corpus sample, so block count grows with n and block sizes
    stay ~modulus-bounded), at the price of the centroid-stage
    fixed cost. Same scale shape either way: blocking bounds the
    O(n_block^2) kernel, one shuffle to co-locate blocks, Arrow
    island per block.

    Totality: a vector whose probed cells hold no seed gets NO cell
    — it becomes a SINGLETON cluster (block NULL, cluster_id = own
    vec_id) rather than silently dropping (ADVICE r6 on the dedup
    twin). Returns (vec_id, block, cluster_id), cluster_id = min
    member id within the block.
    """
    from pudl_spark.functions.similarity import (
        ivf_partitioned_argmax, l2_norm_expr, sample_seeds)

    base = df.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("embedding"))
    emb = base.withColumn("nrm", l2_norm_expr(F.col("embedding")))
    seeds = sample_seeds(emb, seed_modulus)
    best = ivf_partitioned_argmax(emb, seeds, nprobe=nprobe,
                                  centroid_factor=centroid_factor)
    # Reuse pin: both union branches read the assignment
    # (embedding_ivf_clusters 1.17 s unpinned vs 1.01 s at sf0.1).
    assigned = base.join(best, "vec_id", "left").localCheckpoint(
        eager=False)
    blocked = assigned.filter(F.col("cluster_seed").isNotNull()).select(
        "vec_id", "embedding", F.col("cluster_seed").alias("block"))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _cluster_block(pdf, threshold)

    clustered = blocked.groupBy("block").applyInPandas(
        kernel, CLUSTER_SCHEMA)
    singles = assigned.filter(F.col("cluster_seed").isNull()).select(
        "vec_id", F.lit(None).cast("long").alias("block"),
        F.col("vec_id").alias("cluster_id"))
    return clustered.unionByName(singles)
