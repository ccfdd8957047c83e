"""Semantic deduplication over embedding columns (SemDeDup).

The method (Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540 — public
paper) removes *semantic* duplicates that lexical dedup (exact hash,
MinHash, SimHash) cannot see: cluster the corpus embeddings with
k-means, call two documents duplicates when their cosine similarity
within a cluster exceeds ``eps``, and keep ONE exemplar per duplicate
group — the member with the LOWEST cosine to its cluster centroid, so
the kept set preserves the cluster's outer (most diverse) examples.

Spark shape, designed for the 100 TB pass:

1. **Train** the quantizer on a bounded deterministic sample
   (:func:`sparkgraft.similarity.ivf_train` — spherical k-means, no
   RNG). Training never touches the full corpus.
2. **Assign** every vector map-side: one Arrow-batched ``(batch, dim)
   @ (dim, K)`` matmul per batch yields ``(cid, centroid_sim)``; no
   join, no shuffle.
3. **Dedup per cluster** in ONE ``applyInPandas`` pass: the only
   shuffle in the whole plan is the groupBy on ``cid``. Each task gets
   one cluster, computes the pairwise cosine matrix as a single numpy
   matmul, finds duplicate groups with a local union-find, and emits
   every member with its group id and keep flag. Per-task memory is
   ``O(cluster² + cluster·dim)`` — bounded by the K rule below, with
   ``max_cluster`` sub-sharding as the skew backstop.

Scale rule (from the paper's own regime — they run K≈100k on the
LAION corpus): pick ``n_clusters ≈ corpus_size / target_cluster``
with ``target_cluster`` a few thousand, so the per-cluster matmul is
a few-ms BLAS call and the quadratic term never leaves one task.
Duplicate pairs that k-means splits across clusters are missed BY
DESIGN — that approximation is the published algorithm, and is what
makes the method linear-ish instead of all-pairs quadratic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _centroid_matrix, _stack, ivf_train

__all__ = ["assign_with_sim_udf", "semantic_dedup", "auto_n_clusters"]


def auto_n_clusters(
    approx_rows: int,
    target_cluster: int = 2000,
) -> int:
    """The module docstring's K rule as code: ``n_clusters ≈
    corpus_size / target_cluster`` so each cluster's pairwise matmul
    stays a few-ms BLAS call and total work stays ~linear (the paper's
    own regime — K≈100k on LAION). ``approx_rows`` is a caller hint
    (catalog stats, manifest), never a driver count, mirroring
    similarity.auto_num_planes. The floor of 4 keeps tiny corpora from
    degenerating into one all-pairs cluster; the cap of 1e6 bounds the
    broadcast centroid table (1e6 * dim floats must still broadcast —
    beyond that, shard the corpus and dedup per shard)."""
    import math

    if approx_rows <= 0:
        return 4
    k = math.ceil(approx_rows / max(target_cluster, 1))
    return max(4, min(1_000_000, k))


def assign_with_sim_udf(
    centroids: list[tuple[int, list[float]]], dim: int, round_to: int = 6
):
    """Arrow-batched combined assignment: nearest-centroid id AND the
    cosine to that centroid from the SAME matmul (one pass instead of
    an assign UDF plus a rescore join). Ties take the lowest centroid
    id (numpy argmax); zero-norm vectors get cosine 0.0."""
    from pyspark.sql.functions import pandas_udf

    cmat = _centroid_matrix(centroids)
    cnorm = np.linalg.norm(cmat, axis=1)
    cn = (cmat / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]).T  # (dim, K)

    @pandas_udf("struct<cid: bigint, centroid_sim: double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cid": pd.Series([], dtype="int64"),
                                 "centroid_sim": pd.Series([], dtype="float64")})
        x = _stack(vecs, dim)
        xnorm = np.linalg.norm(x, axis=1, keepdims=True)
        xn = x / np.where(xnorm == 0.0, 1.0, xnorm)
        # row-chunked (the similarity._cosine_argmax_chunked bound):
        # a batch x K score block at auto_n_clusters' ceiling would be
        # tens of GB; chunking bounds it while keeping the same argmax
        k = cn.shape[1]
        rows = max(1, 4_000_000 // max(1, k))
        cid = np.empty(len(xn), dtype=np.int64)
        sim = np.empty(len(xn), dtype=np.float64)
        for i in range(0, len(xn), rows):
            scores = xn[i : i + rows] @ cn  # cosine against every centroid
            c = np.argmax(scores, axis=1)
            cid[i : i + rows] = c
            sim[i : i + rows] = scores[np.arange(len(c)), c]
        sim = np.round(sim, round_to)
        return pd.DataFrame({"cid": cid, "centroid_sim": sim})

    return assign


def _union_find_groups(adj_i: np.ndarray, adj_j: np.ndarray, n: int) -> np.ndarray:
    """Local union-find: component root index per member, from the edge
    list (i, j) arrays. O(E α(N)) — clusters fit one task by design."""
    parent = np.arange(n)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for i, j in zip(adj_i.tolist(), adj_j.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    return np.asarray([find(i) for i in range(n)])


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.95,
    n_clusters: int | None = None,
    iters: int = 3,
    round_to: int = 6,
    sample_size: int | None = None,
    max_cluster: int | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """SemDeDup over ``corpus``: every input row comes back with its
    cluster id, centroid cosine, duplicate-group id (the group's
    minimum ``id_col``; singletons are their own group) and the
    ``keep`` verdict — True for the group member with the lowest
    ``centroid_sim`` (ties: lowest id), False for every other member.
    Downstream keeps ``WHERE keep`` for the deduplicated corpus.

    Cosines are rounded to ``round_to`` before the ``>= eps`` test and
    before the keep-ranking, so verdicts are bit-stable across
    partitionings and re-runs.

    ``n_clusters=None`` (the r10 default, completing the IVF-tier
    sizing convention): sized to the corpus via :func:`auto_n_clusters`
    from the ``approx_rows`` hint — per-cluster pairwise work is
    quadratic in cluster size, so a fixed K is a scale knee exactly
    like fixed IVF lists; without a hint the pre-r10 16 applies.
    ``sample_size=None`` likewise defers to ``ivf_train``'s
    quantizer-scaled default, whose 4,194,304-row hard cap (ADVICE
    r10 #2) keeps the one-time training collect inside the documented
    ~2 GB driver bound even at ``auto_n_clusters``' 1e6 ceiling —
    K = 1e6 trains on a thinner 4.2 points/cluster sample rather than
    a 64M-row collect. Registered queries pin explicit values (the
    escape hatch) so their oracle hashes are geometry-stable.

    ``max_cluster``: skew backstop. When set, clusters larger than the
    cap are deterministically sub-sharded (md5 of the id) so no task
    ever materializes more than ``max_cluster`` rows; duplicate pairs
    split across shards are missed — the same approximation the
    cluster boundary already makes, applied to pathological clusters
    only. The size lookup is a K-row aggregate joined back broadcast.
    """
    if n_clusters is None:
        n_clusters = (
            auto_n_clusters(approx_rows) if approx_rows and approx_rows > 0
            else 16
        )
    centroids = ivf_train(
        corpus,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_clusters,
        iters=iters,
        sample_size=sample_size,
    )
    assigned = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        assign_with_sim_udf(centroids, dim, round_to)(F.col(vec_col)).alias(
            "__a"
        ),
    ).select(
        "__id",
        "__vec",
        F.col("__a.cid").alias("cid"),
        F.col("__a.centroid_sim").alias("centroid_sim"),
    )

    if max_cluster is not None:
        sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("__n"))
        assigned = assigned.join(F.broadcast(sizes), "cid").withColumn(
            "__shard",
            F.when(F.col("__n") <= max_cluster, F.lit(0)).otherwise(
                F.pmod(
                    F.xxhash64(F.col("__id").cast("string")),
                    F.ceil(F.col("__n") / max_cluster).cast("bigint"),
                )
            ),
        ).drop("__n")
    else:
        assigned = assigned.withColumn("__shard", F.lit(0))

    out_schema = (
        f"{id_col} bigint, cid bigint, centroid_sim double, "
        f"group_id bigint, keep boolean"
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        # deterministic member order: verdicts must not depend on the
        # arrival order of rows inside the task
        pdf = pdf.sort_values("__id", kind="mergesort").reset_index(drop=True)
        x = _stack(pdf["__vec"], dim)
        xnorm = np.linalg.norm(x, axis=1, keepdims=True)
        xn = x / np.where(xnorm == 0.0, 1.0, xnorm)
        s = np.round(xn @ xn.T, round_to)
        ii, jj = np.nonzero(np.triu(s >= eps, k=1))
        root = _union_find_groups(ii, jj, n)
        ids = pdf["__id"].to_numpy()
        sims = pdf["centroid_sim"].to_numpy()
        # group id: min member id; keep: argmin (centroid_sim, id)
        group_id = np.empty(n, dtype=np.int64)
        keep = np.zeros(n, dtype=bool)
        order = np.lexsort((ids, sims))  # by sim, then id
        seen_root: dict[int, bool] = {}
        for idx in order:
            r = int(root[idx])
            if r not in seen_root:
                seen_root[r] = True
                keep[idx] = True
        for r in np.unique(root):
            members = root == r
            group_id[members] = ids[members].min()
        return pd.DataFrame(
            {
                id_col: ids,
                "cid": pdf["cid"].to_numpy(),
                "centroid_sim": sims,
                "group_id": group_id,
                "keep": keep,
            }
        )

    return assigned.groupBy("cid", "__shard").applyInPandas(
        dedup_cluster, schema=out_schema
    )
