"""Similarity search over embedding columns (``array<float>``).

SURVEY.md §7 step 7 extension: approximate-nearest-neighbor search the
reference has no analogue for. Two tiers:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, rank per query. Correct at any
  corpus size as long as the QUERY side is small (it's the broadcast
  side); cost is one pass over the corpus per batch of queries — this is
  the shape to use for oracle checks and for small k×q workloads.
- **hyperplane-LSH ANN** — the 100 TB path: sign-of-dot-product against
  ``n_planes`` fixed Rademacher (±1) hyperplanes buckets each vector into
  one of 2^n_planes cells; queries probe only their own cell (optionally
  multi-probe neighbors). The bucket join replaces the cross join — the
  only shuffle is on an md5-uniform-ish bucket id, and recall/cost is
  tuned by n_planes.

The hyperplanes are deterministic module-level literals (seeded PRNG at
import), embedded identically into the Spark plan and the DuckDB oracle
SQL, so bucket assignments — and therefore results — match exactly.
No UDFs: dot products are ``zip_with``+``aggregate`` higher-order
functions (JVM codegen); cosine values are rounded before ranking so the
two engines' identical-input doubles can't diverge in tiebreaks.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.functions.core import cosine_similarity, dot
from streaming_etl_pipeline_spark.sources.io import (
    EMBEDDINGS_TABLE,
    VEC_COL,
    VEC_ID_COL,
)

#: Column name of the IVF cell id.
CENTROID_ID = "centroid_id"

#: Fixed Rademacher hyperplanes: MAX_PLANES × dim entries in {+1.0, -1.0}.
#: Deterministic (seed 7) and embedded as literals on BOTH engines.
#: N_PLANES (the oracle-query default) stays 8; the table extends to 24
#: planes — generated from the SAME seed sequence, so rows 0-7 are
#: bit-identical to every earlier round and all existing oracle results
#: are unchanged — because 2^8 = 256 cells is far too coarse for
#: multi-million-row bucket joins (5M rows / 256 cells → 19.5k-row cells
#: → 48G cell-local pairs; 2^20 cells → ~5-row cells → ~12M pairs).
#: Vectors MUST be DIM-dimensional: zip_with pads a shorter vector with
#: NULLs, which nulls the dot product and silently folds every row into
#: bucket 0.
N_PLANES = 8
MAX_PLANES = 24
DIM = 64
_rng = random.Random(7)
PLANES: list[list[float]] = [
    [1.0 if _rng.random() < 0.5 else -1.0 for _ in range(DIM)]
    for _ in range(MAX_PLANES)
]


def _plane_col(p: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in p])


def lsh_bucket(vec: Column | str, n_planes: int = N_PLANES) -> Column:
    """Bucket id in [0, 2^n_planes): bit j = (v · plane_j) > 0.

    Fewer planes → bigger cells → higher recall, more candidates; pick
    n_planes so the expected cell size fits the downstream join budget."""
    v = F.col(vec) if isinstance(vec, str) else vec
    acc = F.lit(0).cast("long")
    for j, p in enumerate(PLANES[:n_planes]):
        acc = acc + F.when(dot(v, _plane_col(p)) > 0, 1 << j).otherwise(0)
    return acc


def lsh_bucket_sql(vec_sql: str, n_planes: int = N_PLANES) -> str:
    """DuckDB twin of :func:`lsh_bucket` (list_dot_product reduces in
    double left-to-right, same as zip_with+aggregate)."""
    terms = []
    for j, p in enumerate(PLANES[:n_planes]):
        lit = "[" + ", ".join(str(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({vec_sql} AS DOUBLE[]), {lit}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")::BIGINT"


def lsh_probe_buckets(
    vec: Column | str, n_planes: int = N_PLANES, multiprobe: bool = False
) -> Column:
    """Array of bucket ids the query probes: its own cell, plus (with
    ``multiprobe``) every cell at Hamming distance 1 — the cells a
    near-miss neighbor most likely fell into when exactly one plane's
    sign disagreed. n_planes+1 probes ≈ the recall of one fewer plane at
    a fraction of the candidate volume."""
    base = lsh_bucket(vec, n_planes)
    if not multiprobe:
        return F.array(base)
    return F.array(
        base, *[base.bitwiseXOR(F.lit(1 << j).cast("long")) for j in range(n_planes)]
    )


def lsh_probe_buckets_sql(
    vec_sql: str, n_planes: int = N_PLANES, multiprobe: bool = False
) -> str:
    """DuckDB twin of :func:`lsh_probe_buckets` (a list literal to
    ``unnest`` on the query side)."""
    b = lsh_bucket_sql(vec_sql, n_planes)
    if not multiprobe:
        return f"[{b}]"
    flips = ", ".join(f"xor({b}, {1 << j})" for j in range(n_planes))
    return f"[{b}, {flips}]"


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self excluded).

    Broadcast the query side — the corpus side streams through one scan,
    so this works unchanged when the corpus is 100 TB and queries are a
    few thousand rows. Ranking uses (rounded sim DESC, neighbor id ASC)
    for a total deterministic order.
    """
    q = queries.select(
        F.col(VEC_ID_COL).alias("query_id"), F.col(VEC_COL).alias("q_vec")
    )
    c = corpus.select(
        F.col(VEC_ID_COL).alias("neighbor_id"), F.col(VEC_COL).alias("c_vec")
    )
    sim = F.round(cosine_similarity("q_vec", "c_vec"), 9)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = N_PLANES,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH cell(s).

    The join is on ``bucket`` — an equi-join Spark shuffles (or broadcasts)
    by bucket id instead of a cross join; with p planes the candidate set
    shrinks ~2^p-fold at the recall cost of angular-far pairs. With
    ``multiprobe`` the query side explodes into its own cell plus every
    flip-1-bit neighbor cell (p+1 probes) — corpus vectors still live in
    exactly one cell, so each (query, neighbor) candidate appears at most
    once and no dedup is needed. Same deterministic ranking as
    :func:`cosine_topk`, so the DuckDB oracle (same literal planes)
    matches exactly.
    """
    q = queries.select(
        F.col(VEC_ID_COL).alias("query_id"),
        F.col(VEC_COL).alias("q_vec"),
        F.explode(lsh_probe_buckets(VEC_COL, n_planes, multiprobe)).alias("bucket"),
    )
    c = corpus.select(
        F.col(VEC_ID_COL).alias("neighbor_id"),
        F.col(VEC_COL).alias("c_vec"),
        lsh_bucket(VEC_COL, n_planes).alias("bucket"),
    )
    sim = F.round(cosine_similarity("q_vec", "c_vec"), 9)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def _centroid_candidates(
    centroids: DataFrame, vec_col: Column, id_col: str, emb_col: str
) -> Column:
    """Literal array of (rounded cosine sim, −centroid_id, centroid_id)
    structs for one row's vector — the per-row scoring table.

    The centroid set is collected to the driver once (it is the tiny
    quantizer table — k-means output, 10²-10⁴ rows) and embedded as
    literals, so assignment is a pure projection: NO corpus×centroid
    join, NO groupBy, zero shuffles over the corpus at any scale. Struct
    comparison is field-order lexicographic in both engines, so
    max/sort pick (highest sim, lowest id) deterministically.
    """
    rows = centroids.select(id_col, emb_col).collect()
    cands = []
    for r in rows:
        cid = r[0]
        cvec = F.array(*[F.lit(float(x)) for x in r[1]])
        sim = F.round(cosine_similarity(vec_col, cvec), 9)
        cands.append(
            F.struct(
                sim.alias("s"),
                F.lit(-cid).cast("long").alias("ni"),
                F.lit(cid).cast("long").alias("cid"),
            )
        )
    return F.array(*cands)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    (max cosine, deterministic centroid-id tiebreak) → an inverted-file
    cell id column.

    Shuffle-free: the centroids are embedded as literals (see
    :func:`_centroid_candidates`) and ``array_max`` picks the best per
    row — one projection over the corpus scan, the 100 TB shape. The
    DuckDB twin's window-rn=1 over the cross join picks the identical
    cell because the (sim, −id) ordering matches. ``carry``: extra
    columns passed through the projection (e.g. a metadata filter
    attribute destined for the stored index)."""
    cands = _centroid_candidates(centroids, F.col(vec_col), id_col, vec_col)
    return vectors.select(
        id_col,
        vec_col,
        *carry,
        F.array_max(cands)["cid"].alias(CENTROID_ID),
    )


def ivf_probe_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
) -> DataFrame:
    """Query-side IVF probing: one row per (vector, probed cell) for the
    vector's ``nprobe`` nearest centroids (deterministic centroid-id
    tiebreak). nprobe=1 reproduces :func:`ivf_assign`'s choice. Same
    shuffle-free literal-centroid scoring; the only row expansion is the
    explode to nprobe rows per query."""
    cands = _centroid_candidates(centroids, F.col(VEC_COL), VEC_ID_COL, VEC_COL)
    top = F.slice(F.sort_array(cands, asc=False), 1, nprobe)
    return vectors.select(
        VEC_ID_COL, VEC_COL, F.explode(top).alias("_c")
    ).select(VEC_ID_COL, VEC_COL, F.col("_c")["cid"].alias(CENTROID_ID))


# ---------------------------------------------------------------------------
# Arrow-batched fast paths (the 100 TB shapes)
#
# The expression-tree scorers above are the ORACLE semantics — exact
# DuckDB twins, bit-reproducible, ideal at oracle/test scale. But
# higher-order array functions are interpreted (no whole-stage codegen),
# and measured throughput is ~1M cosines/s on 32 cores — a 5M×256
# quantizer scan takes ~20 min. The functions below compute the same
# math as one numpy GEMM per Arrow batch (V·Cᵀ), which is 50-100×
# faster; sims round to 9 dp with first-max tiebreak, matching the
# (sim, −id) struct-max, so assignments agree with the expression path
# except at sub-1e-9 knife edges (pinned by test_arrow_paths_agree).
# Use these to build/refresh the ANN layer at ingest; keep the
# expression path for oracle queries and small probes.
# ---------------------------------------------------------------------------


def _centroid_matrix(centroids: DataFrame, id_col: str, vec_col: str):
    """Collect centroids to a (sorted-ids, K×D float64 matrix) pair —
    the same tiny driver-side table :func:`_centroid_candidates`
    embeds as literals."""
    import numpy as np

    rows = sorted(
        (r[0], r[1]) for r in centroids.select(id_col, vec_col).collect()
    )
    ids = np.array([r[0] for r in rows], dtype="int64")
    mat = np.array([r[1] for r in rows], dtype="float64")
    return ids, mat


def ivf_assign_arrow(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
) -> DataFrame:
    """:func:`ivf_assign` as one numpy GEMM per Arrow batch: sims =
    V·Cᵀ / (‖v‖‖c‖), rounded to 9 dp, argmax with lowest-id tiebreak
    (np.argmax takes the FIRST max over id-sorted centroids — the same
    winner as the expression path's (sim, −id) struct max). Zero-norm
    vectors: NaN cosines map to −inf so the argmax lands on the lowest
    centroid id — deterministic, but a knowingly different (degenerate)
    choice than the expression path's NULL-struct max; real corpora
    should drop zero vectors before assignment either way.
    """
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    ids, mat = _centroid_matrix(centroids, id_col, vec_col)
    norms = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, norms))
    in_cols = vectors.select(id_col, vec_col)
    out_schema = f"{id_col} long, {vec_col} array<double>, {CENTROID_ID} long"

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
            sims = np.where(np.isnan(sims), -np.inf, sims)
            best = c_ids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    vec_col: pdf[vec_col],
                    CENTROID_ID: best,
                }
            )

    return in_cols.mapInPandas(assign, out_schema)


def cosine_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """:func:`cosine_topk` (exact brute force) as per-batch GEMM +
    per-batch partial top-k: each Arrow batch emits its own k best
    neighbors per query (batches × Q × k candidate rows — tiny), and a
    global window reduces to the true top-k. Same output contract as
    the expression path: (query_id, rank, neighbor_id, cosine_sim),
    self-pairs excluded, 9-dp rounding, id tiebreak."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    q_ids, q_mat = _centroid_matrix(queries, VEC_ID_COL, VEC_COL)
    q_norms = np.linalg.norm(q_mat, axis=1)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))
    out_schema = "query_id long, neighbor_id long, cosine_sim double"

    def partial(batches):
        ids_q, mat_q, norms_q = bc.value
        for pdf in batches:
            v = np.array(pdf[VEC_COL].tolist(), dtype="float64")
            if v.size == 0:
                continue
            nid = pdf[VEC_ID_COL].values
            vn = np.linalg.norm(v, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.round(
                    (mat_q @ v.T) / (norms_q[:, None] * vn[None, :]), 9
                )  # Q x B
            sims = np.where(np.isnan(sims), -np.inf, sims)
            # exclude self-pairs
            self_mask = ids_q[:, None] == nid[None, :]
            sims = np.where(self_mask, -np.inf, sims)
            kk = min(k, sims.shape[1])
            # per-query: top-k by (sim desc, id asc)
            order = np.lexsort((nid[None, :].repeat(len(ids_q), 0), -sims))
            top = order[:, :kk]
            qcol = np.repeat(ids_q, kk)
            ncol = nid[top].ravel()
            scol = np.take_along_axis(sims, top, axis=1).ravel()
            keep = scol > -np.inf
            yield pd.DataFrame(
                {
                    "query_id": qcol[keep],
                    "neighbor_id": ncol[keep],
                    "cosine_sim": scol[keep],
                }
            )

    cands = corpus.select(VEC_ID_COL, VEC_COL).mapInPandas(partial, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def lsh_bucket_arrow(
    vectors: DataFrame,
    n_planes: int = N_PLANES,
    id_col: str = VEC_ID_COL,
) -> DataFrame:
    """:func:`lsh_bucket` as one sign-GEMM per Arrow batch (V·Pᵀ > 0
    packed to the same little-endian bit order as the expression path).
    Use for corpus-scale bucketing (≤ :data:`MAX_PLANES` planes =
    2^24 cells); the column value is bit-identical to
    ``lsh_bucket(vec, n_planes)`` — strict > 0 on the same left-to-right
    double dot — except when a dot product lands within float-reorder
    distance of 0 (pinned by test_arrow_paths_agree)."""
    import numpy as np
    import pandas as pd

    planes = np.array(PLANES[:n_planes], dtype="float64")  # P x D
    weights = (1 << np.arange(n_planes, dtype="int64"))
    out_schema = f"{id_col} long, {VEC_COL} array<double>, bucket long"

    def bucketize(batches):
        for pdf in batches:
            v = np.array(pdf[VEC_COL].tolist(), dtype="float64")
            if v.size == 0:
                continue
            bits = (v @ planes.T) > 0  # B x P
            bucket = (bits * weights[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    VEC_COL: pdf[VEC_COL],
                    "bucket": bucket,
                }
            )

    return vectors.select(id_col, VEC_COL).mapInPandas(bucketize, out_schema)


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: probe the query's ``nprobe`` nearest-centroid cells.

    The cell id is a plain column, so the probe is an equi-join on it —
    same scale shape as the LSH path but with a data-adaptive quantizer
    (cells follow the data distribution instead of fixed hyperplanes).
    Corpus vectors live in exactly one cell (their rank-1 assignment), so
    probing more cells only widens the candidate set — each (query,
    neighbor) pair still appears at most once.

    ``corpus_cells``: a pre-assigned corpus frame (id, vec, centroid_id
    — e.g. :func:`ivf_assign_arrow` output, or the stored assignment
    column a 100 TB deployment writes at ingest) skips the per-call
    quantizer scan, which otherwise dominates repeated query batches.
    """
    q = ivf_probe_cells(queries, centroids, nprobe).select(
        F.col(VEC_ID_COL).alias("query_id"),
        F.col(VEC_COL).alias("q_vec"),
        "centroid_id",
    )
    assigned = (
        corpus_cells
        if corpus_cells is not None
        else ivf_assign(corpus, centroids)
    )
    c = assigned.select(
        F.col(VEC_ID_COL).alias("neighbor_id"),
        F.col(VEC_COL).alias("c_vec"),
        "centroid_id",
    )
    sim = F.round(cosine_similarity("q_vec", "c_vec"), 9)
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    vec_col: str = VEC_COL,
    n_planes: int = N_PLANES,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, bucketed by the
    same LSH cells so the pair join is bucket-local (near-identical
    vectors land in the same cell with probability ≈ 1 − p·θ/π per plane).

    ``bucketed``: a pre-bucketed frame (id, vec, ``bucket`` — e.g.
    :func:`lsh_bucket_arrow` output) skips the in-plan bucket
    expression; at multi-million-row scale pair with ≥20 planes so the
    expected cell size keeps the cell-local join quadratic term small.
    """
    b = bucketed if bucketed is not None else vectors.select(
        F.col(VEC_ID_COL),
        F.col(vec_col),
        lsh_bucket(vec_col, n_planes).alias("bucket"),
    )
    sim = F.round(
        cosine_similarity(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")), 9
    )
    return (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{VEC_ID_COL}") < F.col(f"r.{VEC_ID_COL}")),
        )
        .select(
            F.col(f"l.{VEC_ID_COL}").alias("id_a"),
            F.col(f"r.{VEC_ID_COL}").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|e| / 127``,
    ``q_i = floor(e_i / scale + 0.5)`` — the standard storage/bandwidth
    lever for large embedding tables (4× smaller than float32; cosine
    ranking degrades by well under typical ANN error).

    ``floor(x + 0.5)`` instead of ``round`` because engines disagree on
    half-even vs half-up ties; floor is bit-identical everywhere. An
    all-zero vector keeps scale 0 and quantizes to zeros.

    Output: ``(id, scale, qvec, q_md5, mean_abs_err)`` where ``q_md5``
    pins the exact int vector (canonicalizer-safe; ``qvec`` itself is
    for pipeline use). Pure projection — 0 shuffles.

    Built as STAGED projections (scale → qvec → outputs) rather than one
    nested expression: higher-order-function lambdas get no
    common-subexpression elimination, so inlining scale into q into the
    error term re-evaluates each array pass combinatorially — measured
    35.5 s → 1.36 s (26×, 500k × 64-dim) from the staging alone.
    """
    e = F.transform(F.col(VEC_COL), lambda x: x.cast("double"))
    staged = df.select(F.col(VEC_ID_COL), e.alias("_e")).select(
        VEC_ID_COL,
        "_e",
        (F.array_max(F.transform(F.col("_e"), F.abs)) / F.lit(127.0)).alias(
            "_scale"
        ),
    )
    scale = F.col("_scale")
    q = F.when(
        scale == 0, F.transform(F.col("_e"), lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            F.col("_e"), lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")
        )
    )
    staged = staged.select(VEC_ID_COL, "_e", "_scale", q.alias("qvec"))
    recon_err = (
        F.aggregate(
            F.zip_with(
                F.col("_e"),
                F.col("qvec"),
                lambda x, qi: F.abs(x - qi.cast("double") * scale),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.size(F.col("_e"))
    )
    return staged.select(
        F.col(VEC_ID_COL),
        F.round(scale, 9).alias("scale"),
        F.col("qvec"),
        F.md5(
            F.array_join(
                F.transform(F.col("qvec"), lambda x: x.cast("string")), ","
            )
        ).alias("q_md5"),
        F.round(recon_err, 6).alias("mean_abs_err"),
    )


def quantize_embeddings_sql(table: str = EMBEDDINGS_TABLE) -> str:
    """DuckDB oracle twin of :func:`quantize_embeddings` (without the
    qvec payload column — the gate compares scale, q_md5 and error)."""
    e = f"CAST({VEC_COL} AS DOUBLE[])"
    return f"""
    SELECT {VEC_ID_COL}, round(scale, 9) AS scale,
           md5(array_to_string(q, ',')) AS q_md5,
           round(list_sum(list_transform(range(1, len(q) + 1),
                 i -> abs(e[i] - q[i] * scale))) / len(q), 6) AS mean_abs_err
    FROM (
      SELECT {VEC_ID_COL}, e, scale,
             CASE WHEN scale = 0
                  THEN list_transform(e, x -> 0)
                  ELSE list_transform(e, x -> CAST(floor(x / scale + 0.5) AS INT))
             END AS q
      FROM (SELECT {VEC_ID_COL}, {e} AS e,
                   list_max(list_transform({e}, x -> abs(x))) / 127.0 AS scale
            FROM {table}))
    """


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication
# ---------------------------------------------------------------------------


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.99,
    vec_col: str = VEC_COL,
) -> DataFrame:
    """Semantic deduplication in embedding space (the SemDeDup recipe,
    Abbas et al. 2023, arXiv:2303.09540): partition the corpus with a
    coarse k-means quantizer, search for cosine-near-duplicate pairs ONLY
    inside each cell, resolve the pairs' transitive closure, and keep one
    representative (the min id) per semantic-duplicate group.

    This is the embedding-side sibling of the text near-dedup family
    (MinHash/SimHash/Jaccard in ``operators/dedup.py``): it catches
    paraphrases and re-encodings that share no n-grams but embed to
    (nearly) the same point. The reference engine has no analogue; its
    dedup is ranked keep-latest (``src/transformations/
    bronze_to_silver.py:44-56``).

    Returns one row PER INPUT VECTOR:
    ``(id, centroid_id, canonical_id, cluster_size, keep)`` — rows with
    ``keep = false`` are the deletion candidates.

    Scale shape (the reason cells exist at all): the pair search is
    all-pairs WITHIN a cell, never across the corpus —
    O(Σ|cell|²) instead of O(n²). The quantizer's k is the knob that
    bounds cell size (SemDeDup used 50k clusters for LAION-scale); train
    it with ``operators/clustering.kmeans_fit`` on a sample. Assignment
    itself is the shuffle-free literal-centroid projection
    (:func:`ivf_assign`), the pair join shuffles once on cell id, and the
    transitive closure runs over the (tiny) pair list only
    (``operators/components.connected_components``) — the corpus is never
    re-shuffled after pair generation.
    """
    from streaming_etl_pipeline_spark.operators.components import dedup_clusters

    assigned = ivf_assign(
        vectors, centroids, vec_col=vec_col
    ).localCheckpoint()  # referenced 3× (both pair sides + final join)
    sim = F.round(
        cosine_similarity(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")), 9
    )
    pairs = (
        assigned.alias("l")
        .join(
            assigned.alias("r"),
            (F.col("l.centroid_id") == F.col("r.centroid_id"))
            & (F.col(f"l.{VEC_ID_COL}") < F.col(f"r.{VEC_ID_COL}")),
        )
        .select(
            F.col(f"l.{VEC_ID_COL}").alias("id_a"),
            F.col(f"r.{VEC_ID_COL}").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    clusters = dedup_clusters(pairs, max_iter=20).withColumnRenamed(
        "doc_id", VEC_ID_COL
    )
    canonical = F.coalesce("canonical_id", F.col(VEC_ID_COL))
    # cluster members are change-sized (near-dups only) — broadcast
    # them instead of shuffling the whole assigned corpus for the join
    return assigned.join(F.broadcast(clusters), VEC_ID_COL, "left").select(
        VEC_ID_COL,
        "centroid_id",
        canonical.alias("canonical_id"),
        F.coalesce("cluster_size", F.lit(1).cast("long")).alias("cluster_size"),
        (canonical == F.col(VEC_ID_COL)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Embedding pooling + Matryoshka truncation
# ---------------------------------------------------------------------------


def mean_pool(df: DataFrame, group_col: str) -> DataFrame:
    """Mean-pool vectors per group (chunk embeddings → one document
    embedding, user events → one profile vector), L2-renormed so
    downstream cosine math keeps unit-norm assumptions.

    Pure built-in composition: posexplode → per-(group, dim) mean → one
    ``array_agg`` ordered by dim. Two shuffles on uniform keys; at
    100 TB the (group, dim) agg is map-side combined so the wire carries
    one partial per (group, dim, partition), never the raw vectors.
    """
    dims = df.select(
        group_col, F.posexplode(VEC_COL).alias("dim", "x")
    )
    pooled = dims.groupBy(group_col, "dim").agg(
        F.avg(F.col("x").cast("double")).alias("x")
    )
    vecs = pooled.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "x"))),
            lambda s: s["x"],
        ).alias(VEC_COL)
    )
    norm = F.sqrt(
        F.aggregate(VEC_COL, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return vecs.select(
        group_col,
        F.transform(
            VEC_COL, lambda x: x / F.greatest(norm, F.lit(1e-12))
        ).alias(VEC_COL),
    )


def truncate_embeddings(
    df: DataFrame,
    out_dims: int,
) -> DataFrame:
    """Matryoshka-style truncation: keep the first ``out_dims``
    components and L2-renormalize — the storage/CPU scale knob for ANN
    (an MRL-trained model's leading dims carry most of the signal, so
    truncated search costs dims/out_dims less bandwidth with modest
    recall loss; pair with full-dim re-ranking of the truncated top-k).

    0-shuffle per-row projection; composes with ``quantize_embeddings``
    for a further 4× (int8) on top of the dimension cut.
    """
    short = F.slice(F.col(VEC_COL), 1, out_dims)
    sq = F.aggregate(
        short, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return (
        df.withColumn("_short", short)
        .withColumn("_norm", F.sqrt(sq))
        .withColumn(
            VEC_COL,
            F.transform(
                "_short",
                lambda x: (
                    x.cast("double") / F.greatest(F.col("_norm"), F.lit(1e-12))
                ).cast("float"),
            ),
        )
        .drop("_short", "_norm")
    )


def mean_pool_exact(df: DataFrame, group_col: str) -> DataFrame:
    """Decimal-exact, exploded form of :func:`mean_pool` for
    differential gating: per (group, dim) rows with the pooled mean and
    its L2-renormalized value, every float step engine-portable
    (decimal accumulation → identical doubles → IEEE sqrt/division →
    fixed rounds). Production pooling uses :func:`mean_pool` (plain
    double math, array output); this twin pins its semantics against
    the DuckDB oracle bit-for-bit.
    """
    from pyspark.sql import Window

    exploded = df.select(group_col, F.posexplode(VEC_COL).alias("dim", "x"))
    pooled = exploded.groupBy(group_col, "dim").agg(
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(27,12)"))
            .cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("pooled_x"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    w = Window.partitionBy(group_col)
    norm = F.sqrt(
        F.sum(
            (F.col("pooled_x") * F.col("pooled_x")).cast("decimal(38,18)")
        )
        .over(w)
        .cast("double")
    )
    return pooled.select(
        group_col,
        "dim",
        "pooled_x",
        "n_vecs",
        F.round(
            F.col("pooled_x") / F.greatest(norm, F.lit(1e-12)), 9
        ).alias("renormed_x"),
    )


def filtered_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Metadata-filtered exact top-k: neighbors must match the query's
    ``label`` — PRE-filter semantics (the constraint is part of the
    join condition, so ranking happens over the filtered candidate set
    and always yields k results when k candidates exist; post-filtering
    a plain top-k can silently return fewer).

    Scale: the filter rides the broadcast join condition, so corpus rows
    failing it are discarded before any vector math; with a corpus
    PARTITIONED BY the filter column, partition pruning skips their
    files entirely — the standard "filtered vector search" shape.
    """
    q = queries.select(
        F.col(VEC_ID_COL).alias("query_id"),
        F.col("label").alias("_qf"),
        F.col(VEC_COL).alias("q_vec"),
    )
    c = corpus.select(
        F.col(VEC_ID_COL).alias("neighbor_id"),
        F.col("label").alias("_cf"),
        F.col(VEC_COL).alias("c_vec"),
    )
    sim = F.round(cosine_similarity("q_vec", "c_vec"), 9)
    scored = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("_qf") == F.col("_cf")),
    ).select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def ann_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    candidate_k: int = 50,
    stage1_dims: int | None = None,
) -> DataFrame:
    """Two-stage retrieval: a cheap wide net, then exact scoring of the
    survivors — the production ANN shape (coarse quantizer / truncated
    vectors for stage 1, full precision for the final order).

    Stage 1 ranks ``candidate_k`` neighbors per query on
    ``stage1_dims``-truncated, renormalized vectors (a dims/stage1_dims
    bandwidth cut; see :func:`truncate_embeddings`). Stage 2 re-scores
    ONLY those candidates with full-precision cosine and keeps the top
    ``k``. Recall@k equals exact search whenever the true top-k survive
    the stage-1 net — widen ``candidate_k`` to trade compute for recall.

    The candidate set is (queries × candidate_k) rows — query-sized, so
    the rerank join broadcasts it against the corpus; the 100 TB corpus
    is still scanned once per stage and never shuffled.
    """
    if stage1_dims is None:
        return cosine_topk(queries, corpus, k)
    short_corpus = truncate_embeddings(corpus, stage1_dims)
    short_queries = truncate_embeddings(queries, stage1_dims)
    cands = cosine_topk(short_queries, short_corpus, candidate_k).select(
        "query_id", "neighbor_id"
    )
    full_q = queries.select(
        F.col(VEC_ID_COL).alias("query_id"), F.col(VEC_COL).alias("q_vec")
    )
    full_c = corpus.select(
        F.col(VEC_ID_COL).alias("neighbor_id"), F.col(VEC_COL).alias("c_vec")
    )
    scored = (
        full_c.join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(full_q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("q_vec", "c_vec"), 9).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def embedding_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    vec_col: str = VEC_COL,
    bench_id_col: str | None = None,
) -> DataFrame:
    """Embedding-level benchmark decontamination: for every corpus
    vector whose cosine similarity to ANY benchmark vector reaches
    ``threshold``, emit its single most-similar benchmark neighbor —
    ``(vec_id, bench_id, cosine_sim)``. This is the semantic complement
    of the n-gram probe (``operators/curation.contamination_stats``):
    paraphrased or lightly-reworded eval material shares almost no
    5-grams but sits at high cosine, and training on it still leaks the
    benchmark.

    Plan/scale: the benchmark side (eval sets — thousands of rows) is
    broadcast; the corpus streams through ONE scan with a per-row
    similarity filter, and only the flagged rows (contamination is rare
    by construction) reach the per-vector argmax shuffle. Exact by
    design — decontamination is the one place recall losses are not
    acceptable. Ranking ties break by ``bench_id`` for a deterministic
    result.
    """
    c = corpus.select(
        F.col(VEC_ID_COL).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    b = benchmark.select(
        F.col(bench_id_col or VEC_ID_COL).alias("bench_id"),
        F.col(vec_col).alias("b_vec"),
    )
    sim = F.round(cosine_similarity("c_vec", "b_vec"), 9)
    scored = (
        c.join(F.broadcast(b))
        .select("vec_id", "bench_id", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
    # Per-vector argmax as max(struct) — unlike a row_number window this
    # gets map-side partial aggregation, so the (already rare) flagged
    # rows combine before the shuffle; (-bench_id) makes ties pick the
    # smallest bench_id under lexicographic struct max.
    best = F.max(
        F.struct(
            F.col("cosine_sim"),
            (-F.col("bench_id")).alias("_neg_id"),
            F.col("bench_id"),
        )
    ).alias("m")
    return scored.groupBy("vec_id").agg(best).select(
        "vec_id", "m.bench_id", "m.cosine_sim"
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    vec_col: str = VEC_COL,
    candidates: DataFrame | None = None,
    cache_candidates: bool = True,
) -> DataFrame:
    """Parallel-corpus (bitext) mining with the ratio-margin criterion
    (Artetxe & Schwenk 2019, arXiv:1811.01136 — the CCMatrix/LASER
    recipe): a source/target sentence pair is emitted when each side is
    the other's nearest neighbor (mutual top-1) AND the margin
    ``cos(x,y) / ((avgk(x) + avgk(y)) / 2)`` — best cosine relative to
    the mean of each side's ``k`` nearest cosines — clears ``threshold``.
    Raw cosine alone over-selects "hubness" vectors that are near
    everything; dividing by the local neighborhood density is what makes
    mined pairs usable as training bitext.

    Output: ``(src_id, tgt_id, cosine_sim, margin)``.

    Plan/scale: the target side is broadcast (one language's candidate
    pool); the pair grid is ONE scan of the source side, then exactly two
    shuffles — a per-src and a per-tgt top-k window; each side's
    neighborhood average AND its argmax ride the same partitioning into
    a map-side-combined aggregate, so nothing data-sized shuffles again
    (the mutual join broadcasts the one-row-per-target stats). For
    corpus-scale × corpus-scale mining pass ``candidates=`` — a
    ``(src_id, tgt_id, cosine_sim)`` frame of cell-local pairs (an IVF
    or LSH bucket join) — and the identical margin tail runs
    over cell-local pairs instead of the grid (neighborhood averages
    then use each side's k best CANDIDATES; with capped ``nprobe`` that
    is the standard IVF recall trade). Memory discipline: the pair
    frame is cached only while the two side-stats aggregates
    materialize (eagerly, inside this call) and unpersisted before
    returning — the returned frame is a cheap join over the
    checkpointed per-side stats, so the |src|×|tgt| grid is never
    pinned past the call. Determinism for the differential oracle:
    cosines round to 9 dp, neighborhood sums accumulate in
    DECIMAL(38,9) (exact, so partial-aggregation order can't leak),
    ties break by partner id.
    """
    from pyspark import StorageLevel

    if candidates is not None:
        pairs = candidates.select(
            "src_id", "tgt_id", F.col("cosine_sim").alias("cos")
        )
    else:
        s = src.select(
            F.col(VEC_ID_COL).alias("src_id"), F.col(vec_col).alias("s_vec")
        )
        t = tgt.select(
            F.col(VEC_ID_COL).alias("tgt_id"),
            F.col(vec_col).alias("t_vec"),
        )
        cos = F.round(cosine_similarity("s_vec", "t_vec"), 9)
        pairs = s.join(F.broadcast(t)).select(
            "src_id", "tgt_id", cos.alias("cos")
        )
    if cache_candidates:
        # cache only while the two side-stats jobs run (released below);
        # cache_candidates=False recomputes the candidate join once per
        # side instead — the right trade when the pair frame is larger
        # than the cluster's cache (corpus-scale mining, SCALE.md)
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    ws = Window.partitionBy("src_id").orderBy(
        F.col("cos").desc(), F.col("tgt_id")
    )
    wt = Window.partitionBy("tgt_id").orderBy(
        F.col("cos").desc(), F.col("src_id")
    )

    def _side_stats(ranked, key, partner):
        avg = (
            F.sum(F.col("cos").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_cos")
        best = F.max(
            F.struct(
                F.col("cos"),
                (-F.col(partner)).alias("_neg"),
                F.col(partner),
            )
        ).alias("b")
        return ranked.filter(F.col("_rn") <= k).groupBy(key).agg(avg, best)

    # Materialize both side-stats (one row per src / per tgt) eagerly,
    # then release the data-squared pair cache: the ADVICE-r5 leak was
    # this persist outliving the call for the session lifetime.
    stats_s = _side_stats(
        pairs.withColumn("_rn", F.row_number().over(ws)), "src_id", "tgt_id"
    ).localCheckpoint(eager=True)
    stats_t = _side_stats(
        pairs.withColumn("_rn", F.row_number().over(wt)), "tgt_id", "src_id"
    ).localCheckpoint(eager=True)
    if cache_candidates:
        pairs.unpersist()
    # mutual top-1: src's best target must name this src back
    mutual = (
        stats_s.alias("s")
        .join(
            F.broadcast(stats_t).alias("t"),
            (F.col("s.b")["tgt_id"] == F.col("t.tgt_id"))
            & (F.col("t.b")["src_id"] == F.col("s.src_id")),
        )
    )
    # try_divide: a zero neighborhood average (orthogonal pools) yields
    # NULL — filtered below — instead of an ANSI divide-by-zero error;
    # DuckDB's DOUBLE/0 is NULL, so the twin agrees
    margin = F.round(
        F.try_divide(
            F.col("s.b")["cos"],
            (F.col("s.avg_cos") + F.col("t.avg_cos")) / 2.0,
        ),
        9,
    )
    return (
        mutual.select(
            F.col("s.src_id").alias("src_id"),
            F.col("t.tgt_id").alias("tgt_id"),
            F.col("s.b")["cos"].alias("cosine_sim"),
            margin.alias("margin"),
        )
        .filter(F.col("margin") >= threshold)
    )


def hard_negative_mining(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the E5/GTE/DPR
    data recipe): per anchor, the ``k`` most-similar corpus vectors with
    a DIFFERENT label — the negatives that actually move a contrastive
    loss, as opposed to random negatives which are trivially separable.

    Output: ``(anchor_id, rank, neighbor_id, neighbor_label,
    cosine_sim)``, rank 1 = hardest.

    Plan/scale: same shape as :func:`cosine_topk` — the anchor batch is
    the broadcast side, the corpus streams through one scan, and only
    (anchor, candidate) survivors of the label-inequality predicate
    reach the per-anchor top-k window. The label filter lives IN the
    join condition, so pruned pairs never materialize.
    """
    a = anchors.select(
        F.col(VEC_ID_COL).alias("anchor_id"),
        F.col(VEC_COL).alias("a_vec"),
        F.col("label").alias("a_label"),
    )
    c = corpus.select(
        F.col(VEC_ID_COL).alias("neighbor_id"),
        F.col(VEC_COL).alias("c_vec"),
        F.col("label").alias("neighbor_label"),
    )
    sim = F.round(cosine_similarity("a_vec", "c_vec"), 9)
    scored = c.join(
        F.broadcast(a),
        (F.col("a_label") != F.col("neighbor_label"))
        & (F.col("anchor_id") != F.col("neighbor_id")),
    ).select(
        "anchor_id", "neighbor_id", "neighbor_label", sim.alias("cosine_sim")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id", "rank", "neighbor_id", "neighbor_label", "cosine_sim"
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-corpus ANN
# ---------------------------------------------------------------------------

#: PQ layout: the DIM-dim vector is split into PQ_M contiguous subspaces
#: of PQ_SUB dims; each subspace is vector-quantized against PQ_K
#: codewords, so a vector compresses to PQ_M small ints (here 8 codes ≈
#: 8 bytes vs 64 float64s = 64× compression). Jégou, Douze, Schmid,
#: "Product Quantization for Nearest Neighbor Search", TPAMI 2011.
#:
#: Like the LSH PLANES, the default codebooks are deterministic
#: module-level literals (seeded PRNG, 6dp values) embedded identically
#: in the Spark plan and the DuckDB oracle SQL — real deployments train
#: them with :func:`pq_fit` and pass `codebooks=`.
PQ_M = 8
PQ_K = 16
PQ_SUB = DIM // PQ_M
_pq_rng = random.Random(11)
PQ_CODEBOOKS: list[list[list[float]]] = [
    [
        [round(_pq_rng.uniform(-1.0, 1.0), 6) for _ in range(PQ_SUB)]
        for _ in range(PQ_K)
    ]
    for _ in range(PQ_M)
]


def pq_fit(
    vectors: DataFrame,
    codebooks_shape: tuple[int, int] = (PQ_M, PQ_K),
    iters: int = 5,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
    use_arrow: bool = False,
) -> list[list[list[float]]]:
    """Train PQ codebooks: an independent k-means per subspace slice.

    Returns the nested ``[m][k][sub]`` list that :func:`pq_encode` /
    :func:`pq_adc_topk` accept as ``codebooks=``. Each subspace fit is a
    bounded driver loop (k × sub doubles of state); the training scans
    are full-corpus distributed passes, so this trains on any corpus a
    k-means fits on. Codebook values are rounded to 6dp so the trained
    literals embed identically into both engines' plans.
    """
    from streaming_etl_pipeline_spark.operators.clustering import kmeans_fit

    m, k = codebooks_shape
    dim = int(vectors.select(F.size(vec_col).alias("n")).first()["n"])
    sub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sliced = vectors.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias(vec_col),
        )
        cents = kmeans_fit(
            sliced, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            use_arrow=use_arrow,
        )
        rows = sorted(
            (int(r[0]), [round(float(x), 6) for x in r[1]]) for r in cents.collect()
        )
        books.append([vec for _, vec in rows])
    return books


def retrain_quantizer(
    vectors: DataFrame,
    n_cells: int,
    codebooks_shape: tuple[int, int] = (PQ_M, PQ_K),
    iters: int = 5,
    sample_fraction: float | None = None,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
):
    """Retrain the full IVF-PQ quantizer state — coarse centroids
    (:func:`clustering.kmeans_fit`) AND PQ codebooks (:func:`pq_fit`)
    — from a slice of CURRENT traffic. This is the *react* half of the
    drift loop: :func:`ivf_occupancy_drift` detects that new vectors
    concentrate in cells the old quantizer carved for a different mix;
    this produces the replacement state and
    :func:`streaming.ingest.reencode_index` migrates the stored index
    onto it (encode later batches with the new state — encode is
    frozen per quantizer state).

    ``sample_fraction``: train on a deterministic (seed-13) Bernoulli
    sample — quantizer quality needs a representative sample, not the
    corpus, so at 100 TB train on ~1M rows and keep every training scan
    sample-sized. Returns ``(centroids, codebooks)`` in exactly the
    shapes ``streaming.ingest.ann_index_batch`` / :func:`ivf_pq_topk` accept; the
    centroid frame is materialized (localCheckpoint) so downstream
    plans embed trained state, not the training lineage."""
    from streaming_etl_pipeline_spark.operators.clustering import kmeans_fit

    if sample_fraction is not None:
        vectors = vectors.sample(fraction=sample_fraction, seed=13)
    vectors = vectors.localCheckpoint(eager=True)  # scanned m+1 times
    centroids = kmeans_fit(
        vectors, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        use_arrow=True,
    ).localCheckpoint(eager=True)
    books = pq_fit(
        vectors, codebooks_shape=codebooks_shape, iters=iters,
        id_col=id_col, vec_col=vec_col, use_arrow=True,
    )
    return centroids, books


def _pq_subspace_scores(
    sub: Column, book: list[list[float]]
) -> Column:
    """Array of PQ_K quantization scores for one subvector: the argmin of
    ``||c||² − 2·(v_s · c)`` is the argmin of the squared L2 distance
    (the common ``||v_s||²`` term cancels). Rounded to 9dp so both
    engines pick the same codeword; ties break to the lowest code via
    first-position-of-min."""
    return F.array(
        *[
            F.round(
                F.lit(sum(x * x for x in cw))
                - 2.0 * dot(sub, F.array(*[F.lit(x) for x in cw])),
                9,
            )
            for cw in book
        ]
    )


def pq_encode(
    vec: Column | str,
    codebooks: list[list[list[float]]] = PQ_CODEBOOKS,
) -> Column:
    """PQ code array (m small ints) for a vector column — a 0-shuffle
    map: every distance is a literal-codeword dot product inside
    whole-stage codegen, argmin via ``array_position(scores, min)``."""
    v = F.col(vec) if isinstance(vec, str) else vec
    sub_len = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        scores = _pq_subspace_scores(F.slice(v, s * sub_len + 1, sub_len), book)
        codes.append((F.array_position(scores, F.array_min(scores)) - 1).cast("int"))
    return F.array(*codes)


def pq_encode_sql(vec_sql: str) -> str:
    """DuckDB twin of :func:`pq_encode` (list_position is 1-based and
    returns the FIRST occurrence — same lowest-code tiebreak)."""
    sub_len = len(PQ_CODEBOOKS[0][0])
    codes = []
    for s, book in enumerate(PQ_CODEBOOKS):
        sub = f"list_slice(CAST({vec_sql} AS DOUBLE[]), {s * sub_len + 1}, {(s + 1) * sub_len})"
        terms = []
        for cw in book:
            lit = "[" + ", ".join(str(x) for x in cw) + "]::DOUBLE[]"
            c2 = sum(x * x for x in cw)
            terms.append(f"round({c2!r} - 2.0 * list_dot_product({sub}, {lit}), 9)")
        scores = "[" + ", ".join(terms) + "]::DOUBLE[]"
        codes.append(
            f"CAST(list_position({scores}, list_min({scores})) - 1 AS INTEGER)"
        )
    return "[" + ", ".join(codes) + "]"


def pq_reconstruct(
    codes: Column | str, codebooks: list[list[list[float]]] = PQ_CODEBOOKS
) -> Column:
    """Decode a PQ code array back to its quantized vector (the
    concatenation of the selected codewords) — the corpus side of
    asymmetric distance computation: queries stay exact, corpus rows are
    reconstructed from m bytes."""
    c = F.col(codes) if isinstance(codes, str) else codes
    parts = []
    for s, book in enumerate(codebooks):
        book_lit = F.array(
            *[F.array(*[F.lit(x) for x in cw]) for cw in book]
        )
        parts.append(F.element_at(book_lit, F.element_at(c, s + 1) + 1))
    return F.flatten(F.array(*parts))


def pq_reconstruct_sql(codes_sql: str) -> str:
    """DuckDB twin of :func:`pq_reconstruct`."""
    parts = []
    for s, book in enumerate(PQ_CODEBOOKS):
        lit = (
            "["
            + ", ".join("[" + ", ".join(str(x) for x in cw) + "]" for cw in book)
            + "]::DOUBLE[][]"
        )
        parts.append(f"({lit})[({codes_sql})[{s + 1}] + 1]")
    return "flatten([" + ", ".join(parts) + "])"


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k over a PQ-compressed corpus via asymmetric
    distance: the corpus is carried as m-byte code arrays (encode is a
    0-shuffle map — at 100 TB the codes table is ~1.5 TB), each row is
    reconstructed on the fly, and the exact query vector is scored
    against the reconstruction. Broadcast queries × one corpus scan —
    identical shape (and ranking contract) to :func:`cosine_topk`, so PQ
    recall is directly measurable against the brute-force arm.
    """
    q = queries.select(
        F.col(VEC_ID_COL).alias("query_id"), F.col(VEC_COL).alias("q_vec")
    )
    c = corpus.select(
        F.col(VEC_ID_COL).alias("neighbor_id"),
        pq_reconstruct(pq_encode(VEC_COL)).alias("c_vec"),
    )
    sim = F.round(cosine_similarity("q_vec", "c_vec"), 9)
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", sim.alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    codebooks: list[list[list[float]]] = PQ_CODEBOOKS,
    corpus_index: DataFrame | None = None,
    filter_col: str | None = None,
) -> DataFrame:
    """IVF-PQ (the FAISS-standard billion-scale layout): candidates are
    restricted to the query's ``nprobe`` nearest IVF cells AND the
    corpus side is carried as PQ codes — the index a 100 TB deployment
    stores is ``(id, centroid_id, m codes)``, ~1% of the raw vectors,
    scanned cell-equi-joined and reconstructed on the fly for asymmetric
    distance. Composes :func:`ivf_probe_cells` / :func:`ivf_assign`
    with :func:`pq_encode` / :func:`pq_reconstruct`; ranking contract
    matches :func:`cosine_topk`, so recall decomposes into the IVF
    routing loss × the PQ quantization loss (both measured in SCALE.md).

    ``corpus_index``: a pre-built ``(vec_id, centroid_id, codes)``
    frame (the stored-at-ingest shape) skips both the quantizer scan
    and the encode pass for repeated query batches.

    ``filter_col``: metadata-filtered search on the COMPRESSED index —
    :func:`filtered_cosine_topk`'s pre-filter semantics (the attribute
    equality rides the candidate join condition, so ranking happens
    over the filtered set and a query with no matching corpus rows
    returns no rows rather than wrong ones). The filter applies BEFORE
    reconstruction: candidates failing it are discarded as code rows —
    one column-equality test — and only survivors pay the m-subspace
    decode. The corpus-side attribute is ``filter_col`` on
    ``corpus_index`` or ``corpus``.
    """
    q = ivf_probe_cells(queries, centroids, nprobe).select(
        F.col(VEC_ID_COL).alias("query_id"),
        F.col(VEC_COL).alias("q_vec"),
        "centroid_id",
    )
    if filter_col is not None:
        q = q.join(
            F.broadcast(
                queries.select(
                    F.col(VEC_ID_COL).alias("query_id"),
                    F.col(filter_col).alias("_qf"),
                )
            ),
            "query_id",
        )
    if corpus_index is None:
        carry = (
            (filter_col,)
            if filter_col is not None and filter_col in corpus.columns
            else ()
        )
        corpus_index = ivf_assign(corpus, centroids, carry=carry).select(
            VEC_ID_COL, "centroid_id", *carry,
            pq_encode(VEC_COL, codebooks).alias("codes"),
        )
    if filter_col is not None and filter_col not in corpus_index.columns:
        raise ValueError(
            f"filter_col={filter_col!r} is on neither the corpus nor its index"
        )
    if filter_col is not None:
        # pre-filter BEFORE reconstruction: failing candidates cost one
        # column equality, never the m-subspace decode
        cand = corpus_index.select(
            F.col(VEC_ID_COL).alias("neighbor_id"),
            "centroid_id",
            F.col(filter_col).alias("_cf"),
            "codes",
        ).join(
            F.broadcast(q), ["centroid_id"]
        ).filter(
            (F.col("_qf") == F.col("_cf"))
            & (F.col("query_id") != F.col("neighbor_id"))
        )
        scored = cand.select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(
                    "q_vec", pq_reconstruct("codes", codebooks)
                ),
                9,
            ).alias("cosine_sim"),
        )
    else:
        c = corpus_index.select(
            F.col(VEC_ID_COL).alias("neighbor_id"),
            "centroid_id",
            pq_reconstruct("codes", codebooks).alias("c_vec"),
        )
        sim = F.round(cosine_similarity("q_vec", "c_vec"), 9)
        scored = (
            c.join(F.broadcast(q), "centroid_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson–Lindenstrauss) — training-free dim reduction
# ---------------------------------------------------------------------------

#: Fixed Rademacher projection matrix (seed 13): RP_MAX_DIM rows of DIM
#: entries in {+1, -1}, scaled by 1/sqrt(out_dim) at projection time.
#: Achlioptas 2001: database-friendly random projections — ±1 entries
#: satisfy the JL lemma with the same distortion bounds as Gaussians,
#: and embed as exact integer literals in both engines' plans.
RP_MAX_DIM = 32
_rp_rng = random.Random(13)
RP_PLANES: list[list[float]] = [
    [1.0 if _rp_rng.random() < 0.5 else -1.0 for _ in range(DIM)]
    for _ in range(RP_MAX_DIM)
]


def random_project(
    vec: Column | str, out_dim: int = 16
) -> Column:
    """Project a DIM-dim vector to ``out_dim`` dims against the fixed
    ±1 planes — a 0-shuffle map (out_dim literal dot products inside
    whole-stage codegen, each rounded to 9dp). Training-free companion
    to :func:`truncate_embeddings` (which requires Matryoshka-trained
    embeddings): JL preserves pairwise distances within 1±ε for ANY
    embedding model, so the projected column feeds the same brute/LSH
    machinery as a cheap first stage."""
    v = F.col(vec) if isinstance(vec, str) else vec
    scale = 1.0 / out_dim ** 0.5
    return F.array(
        *[
            F.round(dot(v, _plane_col(p)) * F.lit(scale), 9)
            for p in RP_PLANES[:out_dim]
        ]
    )


def random_project_sql(vec_sql: str, out_dim: int = 16) -> str:
    """DuckDB twin of :func:`random_project` (same literal planes, same
    left-to-right double reduction, same 9dp rounding)."""
    scale = 1.0 / out_dim ** 0.5
    terms = []
    for p in RP_PLANES[:out_dim]:
        lit = "[" + ", ".join(str(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"round(list_dot_product(CAST({vec_sql} AS DOUBLE[]), {lit})"
            f" * {scale!r}, 9)"
        )
    return "[" + ", ".join(terms) + "]"


def pq_encode_arrow(
    vectors: DataFrame,
    codebooks: list[list[list[float]]] = PQ_CODEBOOKS,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
) -> DataFrame:
    """:func:`pq_encode` as numpy per Arrow batch — one (rows × K)
    distance GEMM per subspace instead of 1024 scalar expressions per
    row. Identical codes to the expression path: scores rounded to 9dp,
    argmin takes the first (lowest-code) minimum. The bulk-encode path
    for index builds; the expression path remains the oracle twin.

    Rounding mode: Spark's ``F.round`` is HALF_UP (away from zero), so
    the 9dp round here is a sign-aware ``floor(|x|·1e9 + 0.5)`` rather
    than ``np.round`` (half-to-even) — a score landing exactly on a
    .5e-9 boundary rounds the same way on both paths, making the
    code-equality structural instead of empirical. (The residual
    difference — Spark rounds the double's SHORTEST DECIMAL repr, numpy
    the binary value — can only bite when the two reprs straddle a
    boundary at the 17th significant digit, beyond these scores'
    meaningful precision.)"""
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    books = [np.array(b, dtype="float64") for b in codebooks]
    bc = spark.sparkContext.broadcast(books)
    sub_len = len(codebooks[0][0])
    out_schema = f"{id_col} long, codes array<int>"

    def encode(batches):
        bks = bc.value
        for pdf in batches:
            v = np.array(pdf[vec_col].tolist(), dtype="float64")
            if v.size == 0:
                continue
            codes = np.empty((v.shape[0], len(bks)), dtype="int32")
            for s, bk in enumerate(bks):
                sub = v[:, s * sub_len:(s + 1) * sub_len]
                # ||c||^2 - 2 v_s . c  (the common ||v_s||^2 cancels)
                raw = (bk * bk).sum(axis=1)[None, :] - 2.0 * (sub @ bk.T)
                # HALF_UP like Spark's round(), not numpy's half-to-even
                scores = np.copysign(
                    np.floor(np.abs(raw) * 1e9 + 0.5), raw
                ) / 1e9
                codes[:, s] = np.argmin(scores, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "codes": list(codes)}
            )

    return vectors.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_reconstruct_arrow(
    codes: DataFrame,
    codebooks: list[list[list[float]]] = PQ_CODEBOOKS,
) -> DataFrame:
    """Decode a ``(id, codes)`` frame back to quantized vectors in bulk
    (one numpy gather per subspace per Arrow batch). Feeding the result
    to :func:`cosine_topk_arrow` IS asymmetric-distance search — the
    soak's fast ADC path over a compressed index."""
    import numpy as np
    import pandas as pd

    spark = codes.sparkSession
    books = [np.array(b, dtype="float64") for b in codebooks]
    bc = spark.sparkContext.broadcast(books)
    out_schema = f"{VEC_ID_COL} long, {VEC_COL} array<double>"

    def decode(batches):
        bks = bc.value
        for pdf in batches:
            c = np.array(pdf["codes"].tolist(), dtype="int64")
            if c.size == 0:
                continue
            recon = np.concatenate(
                [bk[c[:, s]] for s, bk in enumerate(bks)], axis=1
            )
            yield pd.DataFrame(
                {VEC_ID_COL: pdf[VEC_ID_COL].values, VEC_COL: list(recon)}
            )

    return codes.mapInPandas(decode, out_schema)


# ---------------------------------------------------------------------------
# IVF quantizer-drift monitor — the retrain trigger for the streaming index
# ---------------------------------------------------------------------------


def ivf_occupancy_drift(
    ref_cells: DataFrame,
    cur_cells: DataFrame,
    n_cells: int,
) -> DataFrame:
    """Per-cell IVF occupancy drift: PSI of the CURRENT assignment
    distribution against the TRAINING-TIME reference, cell ids as the
    bins. This is the retrain trigger the incremental index writer
    defers to (``streaming.ingest.ann_index_batch`` encodes against FROZEN
    centroids/codebooks; when new traffic concentrates in cells the
    quantizer carved for a different mix, recall decays silently —
    occupancy drift is the observable).

    Inputs are assignment frames (one row per vector with ``centroid_id``
    — ``ivf_assign`` output or ``load_ann_index``). Output: one row per
    cell ``(centroid_id, cnt_ref, cnt_cur, psi_term, psi, drifted)``
    with the same Laplace smoothing, 0.1 threshold, and reading as
    ``quality/drift.psi`` (< 0.1 stable, > 0.25 retrain). ``psi_term``
    rounds to 6dp; the total accumulates the 9dp-rounded terms as
    DECIMAL over a cells-wide window, so both engines agree bit-for-bit
    regardless of row order.

    Scale: each side is one map-side-combined count per cell (the
    assignment frames are the stored index — no vector math at all);
    everything after is ≤ n_cells rows.
    """
    spark = ref_cells.sparkSession

    def counts(df: DataFrame, label: str) -> DataFrame:
        return (
            df.select(F.col(CENTROID_ID).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias(f"cnt_{label}"))
        )

    bins = (
        spark.range(n_cells)
        .select(F.col("id").alias("cell"))
        .join(counts(ref_cells, "ref"), "cell", "left")
        .join(counts(cur_cells, "cur"), "cell", "left")
        .select(
            "cell",
            F.coalesce("cnt_ref", F.lit(0)).alias("cnt_ref"),
            F.coalesce("cnt_cur", F.lit(0)).alias("cnt_cur"),
        )
    )
    tot = bins.agg(
        F.sum("cnt_ref").alias("n_ref"), F.sum("cnt_cur").alias("n_cur")
    )
    p_ref = (F.col("cnt_ref") + 0.5) / (F.col("n_ref") + 0.5 * n_cells)
    p_cur = (F.col("cnt_cur") + 0.5) / (F.col("n_cur") + 0.5 * n_cells)
    term = F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 9)
    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = bins.crossJoin(F.broadcast(tot)).select(
        F.col("cell").alias(CENTROID_ID),
        "cnt_ref",
        "cnt_cur",
        F.round(term, 6).alias("psi_term"),
        F.round(
            F.sum(term.cast("decimal(38,9)")).over(w).cast("double"), 6
        ).alias("psi"),
    )
    return out.withColumn("drifted", F.col("psi") >= 0.1)


def ivf_occupancy_drift_sql(ref_sql: str, cur_sql: str, n_cells: int) -> str:
    """DuckDB oracle twin of :func:`ivf_occupancy_drift` —
    ``ref_sql``/``cur_sql`` yield one assignment row per vector with
    ``centroid_id``."""
    return f"""
    WITH refc AS (
      SELECT {CENTROID_ID} AS cell, count(*) AS cnt
      FROM ({ref_sql}) GROUP BY 1),
    curc AS (
      SELECT {CENTROID_ID} AS cell, count(*) AS cnt
      FROM ({cur_sql}) GROUP BY 1),
    bins AS (
      SELECT b.cell,
             coalesce(refc.cnt, 0) AS cnt_ref,
             coalesce(curc.cnt, 0) AS cnt_cur
      FROM (SELECT unnest(range({n_cells})) AS cell) b
      LEFT JOIN refc USING (cell) LEFT JOIN curc USING (cell)),
    tot AS (SELECT CAST(sum(cnt_ref) AS BIGINT) AS n_ref,
                   CAST(sum(cnt_cur) AS BIGINT) AS n_cur FROM bins),
    terms AS (
      SELECT cell, cnt_ref, cnt_cur,
             round(((cnt_cur + 0.5) / (n_cur + 0.5 * {n_cells})
                    - (cnt_ref + 0.5) / (n_ref + 0.5 * {n_cells}))
                   * ln(((cnt_cur + 0.5) / (n_cur + 0.5 * {n_cells}))
                        / ((cnt_ref + 0.5) / (n_ref + 0.5 * {n_cells}))),
                   9) AS t
      FROM bins, tot)
    SELECT cell AS {CENTROID_ID}, CAST(cnt_ref AS BIGINT) AS cnt_ref,
           CAST(cnt_cur AS BIGINT) AS cnt_cur,
           round(t, 6) AS psi_term,
           round(CAST(sum(CAST(t AS DECIMAL(38,9))) OVER () AS DOUBLE), 6)
             AS psi,
           round(CAST(sum(CAST(t AS DECIMAL(38,9))) OVER () AS DOUBLE), 6)
             >= 0.1 AS drifted
    FROM terms
    """
