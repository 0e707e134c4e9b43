"""Deterministic k-means for training the IVF coarse quantizer.

``similarity.ivf_ann_topk`` takes any centroid table; this trains a real
one with Lloyd iterations expressed entirely in DataFrame ops:

- **assign** — :func:`similarity.ivf_assign`: literal-centroid argmax,
  a pure projection over the corpus (zero shuffles);
- **update** — per-cell mean vector via ``posexplode`` →
  ``groupBy(cell, dim).avg``: the one shuffle per iteration, and
  map-side partial aggregation collapses it to k·dim running sums per
  partition before the exchange — the textbook distributed k-means
  reduce;
- the k·dim means are collected (tiny) to become the next iteration's
  literals.

Determinism: init = the k lowest-id vectors; ties in assignment break on
centroid id; means are averaged in double after a decimal-exact sum —
same corpus + same k/iters → same centroids on any cluster layout.
Cosine geometry (vectors and centroids compared by angle) to match the
ANN operators' similarity.

When training pays: a trained quantizer helps exactly when the
embedding distribution is clustered (real text/image embeddings are).
On clustered data the cells align with the clusters and nprobe=1
recall approaches 1 (see the blob test). On the synthetic UNIFORM test
embeddings, training only equalizes cell sizes — measured at sf0.01,
trained nprobe=1 gets recall 0.69 from 630 candidates (1.10 recall per
1k candidates) vs arbitrary centroids' 0.65/1k at nprobe=2, but no
recall win at matched candidate budgets, because structureless data
gives k-means nothing to learn. Ship the trainer, fit it on real
embeddings, and validate recall-per-candidate on a held-out query set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.operators.similarity import ivf_assign
from streaming_etl_pipeline_spark.sources.io import VEC_COL, VEC_ID_COL


def _cell_means(assigned: DataFrame, vec_col: str) -> list[tuple[int, list[float]]]:
    """Per-cell mean vector: posexplode → groupBy (cell, dim) → avg.
    Decimal accumulation keeps the sums order-independent, so repeated
    fits produce bit-identical centroids."""
    per_dim = (
        assigned.select("centroid_id", F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("centroid_id", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(27,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    )
    cells: dict[int, dict[int, float]] = {}
    for r in per_dim:
        cells.setdefault(r.centroid_id, {})[r.dim] = r.m
    out = []
    for cid, dims in cells.items():
        out.append((cid, [dims[i] for i in range(len(dims))]))
    return out


def kmeans_fit(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
    use_arrow: bool = False,
) -> DataFrame:
    """Train k centroids with ``iters`` Lloyd iterations; returns a
    centroid DataFrame ``(id_col, vec_col)`` that plugs directly into
    :func:`similarity.ivf_ann_topk` / :func:`similarity.ivf_assign`.

    Empty cells keep their previous centroid (standard practice), so the
    quantizer always has exactly k cells.

    ``use_arrow=True`` assigns via the numpy-GEMM path
    (:func:`similarity.ivf_assign_arrow`) — same winner per row as the
    expression path (identical rounding + first-max tiebreak), but the
    per-iteration scoring cost stops scaling with k as an expression
    tree; use it for k ≳ 64 (the 8×256 PQ fit is ~10× faster).
    """
    spark: SparkSession = vectors.sparkSession
    seeds = vectors.orderBy(F.col(id_col).asc()).limit(k)
    centroids = seeds.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    current: dict[int, list[float]] = {
        int(r[0]): [float(x) for x in r[1]] for r in centroids.collect()
    }
    # re-key cells 0..k-1 so centroid ids are stable across iterations
    current = {i: vec for i, (_, vec) in enumerate(sorted(current.items()))}

    for _ in range(iters):
        cent_df = spark.createDataFrame(
            [(cid, vec) for cid, vec in sorted(current.items())],
            f"{id_col} long, {vec_col} array<double>",
        )
        if use_arrow:
            from streaming_etl_pipeline_spark.operators.similarity import (
                ivf_assign_arrow,
            )

            assigned = ivf_assign_arrow(
                vectors, cent_df, id_col=id_col, vec_col=vec_col
            )
        else:
            assigned = ivf_assign(
                vectors, cent_df, id_col=id_col, vec_col=vec_col
            )
        for cid, mean in _cell_means(assigned, vec_col):
            current[cid] = mean  # empty cells keep their old centroid

    return spark.createDataFrame(
        [(cid, vec) for cid, vec in sorted(current.items())],
        f"{id_col} long, {vec_col} array<double>",
    )


def prototype_prune(
    vectors: DataFrame,
    centroids: DataFrame,
    drop_frac: float,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
    use_arrow: bool = False,
) -> DataFrame:
    """Prototype-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws", arXiv:2206.14486): rank every vector by how
    prototypical it is — cosine similarity to its assigned cluster
    centroid — and mark the easiest ``drop_frac`` of EACH cluster for
    removal. Keeping the hard (least prototypical) examples is the
    regime that beats random pruning when data is abundant, which is
    exactly the 100 TB pretraining setting; the per-cluster cut keeps
    the pruned corpus covering every mode instead of collapsing onto
    dense clusters.

    Output grain: one row per vector —
    ``(id, centroid_id, proto_sim, proto_rank, cell_n, kept)`` where
    ``proto_rank`` 1 is the most prototypical of its cell and ``kept``
    is false for ranks ≤ floor(drop_frac · cell_n). The ``kept = false``
    rows are the delete list (same contract as SemDeDup /
    ``cluster_representatives``).

    Plan/scale: assignment + similarity ride
    :func:`similarity.ivf_assign`'s literal-centroid projection (zero
    corpus shuffles); the only exchange is the per-cell ranking window,
    keyed on the quantizer cell — k-means cells are size-balanced by
    construction, so no skew hardening is needed. Determinism:
    similarities are rounded to 9 dp before ranking and ties break on
    the vector id, a total order both engines sort identically.

    ``use_arrow=True`` swaps the literal-expression assignment for one
    numpy GEMM per Arrow batch (same 9-dp rounding, same
    (sim, lowest-id) winner — the ``ivf_assign_arrow`` contract; the
    oracle keeps gating the expression path) — the 100 TB ingest shape
    at ~100× the interpreted-HOF cosine throughput.
    """
    from streaming_etl_pipeline_spark.operators.similarity import (
        _centroid_candidates,
    )
    from pyspark.sql import Window

    if use_arrow:
        assigned = _prototype_assign_arrow(
            vectors, centroids, id_col, vec_col
        )
    else:
        cands = _centroid_candidates(
            centroids, F.col(vec_col), id_col, vec_col
        )
        best = F.array_max(cands)
        assigned = vectors.select(
            id_col,
            best["cid"].alias("centroid_id"),
            best["s"].alias("proto_sim"),
        )
    w_cell = Window.partitionBy("centroid_id").orderBy(
        F.col("proto_sim").desc(), F.col(id_col).asc()
    )
    w_n = Window.partitionBy("centroid_id")
    ranked = assigned.select(
        id_col,
        "centroid_id",
        "proto_sim",
        F.row_number().over(w_cell).cast("long").alias("proto_rank"),
        F.count(F.lit(1)).over(w_n).cast("long").alias("cell_n"),
    )
    cut = F.floor(F.lit(float(drop_frac)) * F.col("cell_n")).cast("long")
    return ranked.withColumn("kept", F.col("proto_rank") > cut)


def _prototype_assign_arrow(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Arrow twin of the expression assignment inside
    :func:`prototype_prune`: sims = V·Cᵀ/(‖v‖‖c‖) rounded to 9 dp, the
    argmax takes the first (lowest-id) max over id-sorted centroids,
    and the winning similarity rides along as ``proto_sim``. Zero-norm
    vectors produce NaN sims; the argmax then lands on the lowest
    centroid id with a NaN proto_sim — the SAME (cell, sim) the
    expression path's NULL-struct max yields, so the two paths agree
    even on the degenerate rows (pinned by the arrow-equality test)."""
    import numpy as np
    import pandas as pd

    from streaming_etl_pipeline_spark.operators.similarity import (
        _centroid_matrix,
    )

    spark = vectors.sparkSession
    ids, mat = _centroid_matrix(centroids, id_col, vec_col)
    norms = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, norms))
    in_cols = vectors.select(id_col, vec_col)
    out_schema = f"{id_col} long, centroid_id long, proto_sim double"

    def assign(batches):
        c_ids, c_mat, c_norms = bc.value
        for pdf in batches:
            v = np.array(pdf[vec_col].tolist(), dtype="float64")
            if v.size == 0:
                continue
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.round(
                    (v @ c_mat.T) / (vn * c_norms[None, :]), 9
                )
            ranked = np.where(np.isnan(sims), -np.inf, sims)
            best = np.argmax(ranked, axis=1)
            rows = np.arange(len(best))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "centroid_id": c_ids[best],
                    "proto_sim": sims[rows, best],
                }
            )

    return in_cols.mapInPandas(assign, schema=out_schema)
