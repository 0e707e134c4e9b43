#!/usr/bin/env python
"""Opt-in embedding-family soak (judge r5 items #1/#2): measure the ANN
machinery at multi-million-vector scale — the regime the sf0.1 bench
never touches — and record the resource envelope for SCALE.md.

Vectors are dim-64 (the engine's LSH plane table is 64-wide, matching
the testdata embeddings). The soak exercises BOTH scorer families:

- the expression-tree scorers (the oracle semantics — bit-reproducible,
  DuckDB-twinned, interpreted ~1M cosines/s) on bounded slices, and
- the Arrow-batched fast paths (`ivf_assign_arrow` / `cosine_topk_arrow`
  / `lsh_bucket_arrow`, one numpy GEMM per batch, proven bit-identical
  on the test corpus by tests/test_docs_ops.py::test_arrow_paths_agree)
  on the full corpus — the 100 TB ingest shape.

Phases (each timed; shuffle/spill/peak-mem from the event log at exit):

- ``gen``     — synthesize N clustered + N quasi-uniform dim-64 vector
                corpora JVM-side, land as parquet;
- ``build``   — IVF coarse assignment over all N vectors (Arrow GEMM)
                plus the literal-expression path on a 200k slice for
                the throughput comparison → rows/s for both;
- ``topk``    — recall@10 for ``ivf_ann_topk`` (nprobe 1 and 8,
                reusing ONE stored corpus assignment via
                ``corpus_cells=``) against the exact brute-force
                ground truth (``cosine_topk_arrow``);
- ``neardup`` — ``cosine_neardup_pairs`` over the quasi-uniform corpus
                with planted twins, pre-bucketed by
                ``lsh_bucket_arrow`` at 20 planes (2^20 cells keeps the
                cell-local join quadratic term ~N²/2^20) → wall time +
                planted-twin recall;
- ``rrf``     — reciprocal-rank-fusion ensemble on a planted-twin
                retrieval task (every 1000th vector is a 0.25-jitter
                near-twin of its predecessor; recall@10 = fraction of
                twin queries whose twin is found): multi-probe LSH and
                IVF nprobe-1 dense arms plus a HYBRID lexical arm —
                BM25 over a quantized lexical view of each vector (64
                dims × 32 buckets → one token per dim), the standard
                lexical+dense hybrid with each arm's misses structural
                and uncorrelated (plane flips vs cell boundaries vs
                bucket edges). Reports each arm, the dense-only fusion,
                and the hybrid fusion;
- ``ingest``  — incremental IVF-PQ index maintenance
                (``streaming.ingest.ann_index_batch``):
                two 1M-vector batches encode + append against frozen
                centroids/codebooks → per-trigger wall + rows/s, then a
                200-query ivf_pq_topk over the maintained
                ``corpus_index=`` → search wall;
- ``hybrid_store`` — the PRODUCTION hybrid-retrieval shape: BOTH
                stores maintained by their per-batch writers (two
                ``ann_index_batch`` + two ``bm25_postings_batch`` epochs over a
                planted-twin corpus and its quantized lexical view),
                then ONE query batch fused from the stored indexes —
                ``ivf_pq_topk(corpus_index=load_ann_index(...))`` +
                ``bm25_topk_from_store`` → ``rrf_fuse``. Reports
                per-arm and fused twin recall + per-side wall;
- ``drift_loop`` — recall decay and recovery through the closed drift
                loop: quantizer trained on pattern A, ``ann_index_batch``
                indexes A then keeps encoding DC-shifted pattern-B batches
                against the frozen state; planted-twin recall on B
                queries BEFORE, then ``maybe_retrain_ann_index``
                (monitor fires → retrain on current traffic →
                re-encode/swap), recall AFTER — plus the probe walls,
                which show drift ALSO degrades latency (B crowds a few
                A-cells → giant candidate joins);
- ``prune``   — prototype-based keep-hard pruning over the clustered
                corpus: Arrow-GEMM centroid assignment + the one
                per-cell ranking window → rows/s + realized keep
                fraction;
- ``bitext``  — corpus×corpus mining THROUGH THE ``candidates=`` HOOK:
                20-plane LSH cells generate M²/2^20 cell-local pairs
                for M src × M tgt (the 2M×2M broadcast grid would be
                4·10¹² pairs — impossible), then
                ``bitext_margin_pairs(candidates=...,
                cache_candidates=False)`` runs the standard margin
                tail. Planted translations (tgt = jittered src)
                measure recall.

Usage:
    python scripts/soak_embeddings.py                 # full: 5M / 2M×2M
    python scripts/soak_embeddings.py --n 500000 --bitext-n 200000  # smoke
    python scripts/soak_embeddings.py --phases build,topk
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from soak_curation import _eventlog_metrics, _java_peak_rss_gb  # noqa: E402

from streaming_etl_pipeline_spark.session import build_session  # noqa: E402

DIM = 64  # must match similarity.DIM (the LSH plane width)


def _arg(name: str, default):
    if name in sys.argv:
        return type(default)(sys.argv[sys.argv.index(name) + 1])
    return default


def synth_vectors(spark, n: int, clusters: int, noise: float,
                  id_offset: int = 0, jitter: float = 0.0):
    """Deterministic dim-64 vectors, all JVM-side: component j of row id
    is sin-mixed from its cluster center plus per-row noise (and an
    optional small per-row jitter used to plant near-twins)."""
    from pyspark.sql import functions as F

    c = (F.col("id") % clusters).cast("double")
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda j: (
            F.sin((c + 1.0) * j.cast("double") * 0.7)
            + noise * F.sin((F.col("id") + 17.0) * (j.cast("double") + 5.0) * 1.3)
            + jitter * F.sin((F.col("id") + 3.0) * j.cast("double") * 2.9)
        ),
    )
    return spark.range(n).select(
        (F.col("id") + id_offset).alias("vec_id"), vec.alias("embedding")
    )


def hard_twin_vectors(spark, n: int, id_offset: int = 0,
                      twin_every: int = 1000, twin_jitter: float = 0.25):
    """Quasi-uniform corpus where every ``twin_every``-th vector is a
    ``twin_jitter``-amplitude jittered copy of its predecessor — planted
    retrieval ground truth (query = the twin, true top-1 = vec_id − 1).
    Close enough that exact cosine ranks the twin first, far enough
    that each approximate arm structurally misses a few percent."""
    from pyspark.sql import functions as F

    hard = synth_vectors(spark, n, clusters=997, noise=1.7,
                         id_offset=id_offset)
    src = F.col("vec_id") - 1
    src_id = src - id_offset  # the generator's internal row id
    is_twin = (
        (F.col("vec_id") % twin_every == 0)
        & (F.col("vec_id") > id_offset)
    )
    return hard.select(
        "vec_id",
        F.when(
            is_twin,
            F.transform(
                F.sequence(F.lit(1), F.lit(DIM)),
                lambda j: (
                    F.sin(((src_id % 997) + 1.0).cast("double")
                          * j.cast("double") * 0.7)
                    + 1.7 * F.sin((src_id + 17.0).cast("double")
                                  * (j.cast("double") + 5.0) * 1.3)
                    + twin_jitter * F.sin((F.col("vec_id") + 3.0)
                                          * j.cast("double") * 2.9)
                ),
            ),
        ).otherwise(F.col("embedding")).alias("embedding"),
    )


def lex_text_expr(vec, buckets: int = 32):
    """Quantized lexical view of a vector (one token per dim): twins
    share most bucket tokens, unrelated vectors share ~2, so the
    idf-weighted overlap IS a lexical retrieval signal — the corpus
    trick the rrf/hybrid soak phases use to get a BM25 arm with known
    ground truth."""
    from pyspark.sql import functions as F

    bucket = lambda j: F.least(  # noqa: E731
        F.lit(buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.element_at(vec, j) + 4.0) * (buckets / 8.0)
            ).cast("int"),
        ),
    ).cast("string")
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda j: F.concat(
                F.lit("d"), j.cast("string"), F.lit("x"), bucket(j)
            ),
        ),
        " ",
    )


def main() -> int:
    from pyspark.sql import functions as F

    import streaming_etl_pipeline_spark.operators.similarity as SIM

    n = _arg("--n", 5_000_000)
    k = _arg("--k", 256)
    q = _arg("--queries", 200)
    bitext_n = _arg("--bitext-n", 2_000_000)
    planes = _arg("--planes", 20)
    phases = set(_arg("--phases", "build,topk,neardup,bitext").split(","))

    work = tempfile.mkdtemp(prefix="soak_embeddings_")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = build_session(
        app_name="soak-embeddings",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        },
    )
    report: dict = {
        "metric": "embedding_soak", "unit": "sec",
        "n": n, "dim": DIM, "k": k, "queries": q,
        "bitext_n": bitext_n, "planes": planes, "phases": {},
    }
    try:
        # ---- gen: clustered corpus for IVF, quasi-uniform for LSH ----
        t0 = time.time()
        clustered_path = os.path.join(work, "clustered")
        synth_vectors(spark, n, clusters=k, noise=0.35).repartition(
            64
        ).write.parquet(clustered_path)
        uniform_path = os.path.join(work, "uniform")
        # noise≈signal → spreads across LSH cells; every 1000th row is a
        # near-twin of its predecessor (planted neardup ground truth)
        uni = synth_vectors(spark, n, clusters=997, noise=1.7)
        twin_src = F.col("vec_id") - 1
        uni = uni.select(
            "vec_id",
            F.when(
                (F.col("vec_id") % 1000 == 0) & (F.col("vec_id") > 0),
                F.transform(
                    F.sequence(F.lit(1), F.lit(DIM)),
                    lambda j: (
                        F.sin(((twin_src % 997) + 1.0).cast("double")
                              * j.cast("double") * 0.7)
                        + 1.7 * F.sin((twin_src + 17.0).cast("double")
                                      * (j.cast("double") + 5.0) * 1.3)
                        + 1e-4 * j.cast("double")
                    ),
                ),
            ).otherwise(F.col("embedding")).alias("embedding"),
        )
        uni.repartition(64).write.parquet(uniform_path)
        report["phases"]["gen"] = round(time.time() - t0, 1)
        corpus = spark.read.parquet(clustered_path)
        uniform = spark.read.parquet(uniform_path)
        centroids = (
            spark.range(k)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(DIM)),
                    lambda j: F.sin(
                        (F.col("id").cast("double") + 1.0)
                        * j.cast("double") * 0.7
                    ),
                ).alias("embedding"),
            )
            .localCheckpoint(eager=True)
        )

        # ---- build: Arrow GEMM over all N + literal path on a slice ----
        if "build" in phases:
            t0 = time.time()
            SIM.ivf_assign_arrow(corpus, centroids).write.format(
                "noop"
            ).mode("overwrite").save()
            wall = time.time() - t0
            report["phases"]["ivf_build_arrow"] = round(wall, 1)
            report["ivf_build_arrow_rows_per_sec"] = round(n / wall)
            slice_n = min(n, 200_000)
            t0 = time.time()
            SIM.ivf_assign(
                corpus.filter(F.col("vec_id") < slice_n), centroids
            ).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            report["phases"]["ivf_build_expr_slice"] = round(wall, 1)
            report["ivf_build_expr_rows_per_sec"] = round(slice_n / wall)

        # ---- topk: recall@10 vs exact brute force on Q queries ----
        if "topk" in phases:
            queries = corpus.filter(
                F.col("vec_id") % max(n // q, 1) == 3
            ).limit(q).localCheckpoint(eager=True)
            t0 = time.time()
            truth = {
                (r.query_id, r.neighbor_id)
                for r in SIM.cosine_topk_arrow(queries, corpus, k=10).collect()
            }
            brute_wall = time.time() - t0
            report["phases"]["brute_topk_arrow"] = round(brute_wall, 1)
            report["brute_pairs_per_sec"] = round(q * n / brute_wall)
            # assign once (the stored-at-ingest shape), probe twice
            t0 = time.time()
            cells = SIM.ivf_assign_arrow(corpus, centroids).localCheckpoint(
                eager=True
            )
            report["phases"]["ivf_cells_checkpoint"] = round(
                time.time() - t0, 1
            )
            for nprobe in (1, 8):
                t0 = time.time()
                got = {
                    (r.query_id, r.neighbor_id)
                    for r in SIM.ivf_ann_topk(
                        queries, corpus, centroids, k=10, nprobe=nprobe,
                        corpus_cells=cells,
                    ).collect()
                }
                report["phases"][f"ivf_topk_np{nprobe}"] = round(
                    time.time() - t0, 1
                )
                report[f"recall_at_10_np{nprobe}"] = round(
                    len(got & truth) / max(len(truth), 1), 3
                )

        # ---- rrf: hybrid lexical+dense ensemble on planted twins ----
        if "rrf" in phases:
            from streaming_etl_pipeline_spark.operators.retrieval import (
                bm25_topk,
                rrf_fuse,
            )

            # hard-twin corpus: every 1000th vector = predecessor +
            # 0.25-amplitude jitter — close enough that exact cosine
            # ranks the twin first, far enough that each approximate
            # arm structurally misses a few percent (plane flips, cell
            # boundaries, bucket edges — different few percent each)
            t0 = time.time()
            hard_path = os.path.join(work, "hard_twins")
            is_twin = (F.col("vec_id") % 1000 == 0) & (F.col("vec_id") > 0)
            hard_twin_vectors(spark, n).repartition(64).write.parquet(
                hard_path
            )
            hard = spark.read.parquet(hard_path)
            queries = hard.filter(is_twin).limit(q).localCheckpoint(
                eager=True
            )
            nq = queries.count()

            def _twin_recall(df) -> float:
                got = {(r.query_id, r.neighbor_id) for r in df.collect()}
                found = sum(1 for (a, b) in got if b == a - 1)
                return round(found / max(nq, 1), 3)

            h_cents = hard.filter(
                F.col("vec_id") % max(n // k, 1) == 7
            ).limit(k).localCheckpoint(eager=True)
            arms = {
                "lsh": SIM.lsh_ann_topk(
                    queries, hard, k=10, n_planes=6, multiprobe=True
                ).localCheckpoint(eager=True),
                "ivf": SIM.ivf_ann_topk(
                    queries, hard, h_cents, k=10, nprobe=1
                ).localCheckpoint(eager=True),
            }
            # hybrid lexical arm: BM25 over a quantized lexical view
            # (one token per dim, 32 buckets; see lex_text_expr)
            lex_docs = hard.select(
                F.col("vec_id").alias("doc_id"),
                lex_text_expr(F.col("embedding")).alias("text"),
            )
            lex_q = queries.select(
                F.col("vec_id").alias("query_id"),
                F.explode(
                    F.split(lex_text_expr(F.col("embedding")), " ")
                ).alias("qterm"),
            )
            arms["bm25_lex"] = bm25_topk(
                lex_docs, lex_q, k=10, exclude_self=True
            ).localCheckpoint(eager=True)
            for name, df in arms.items():
                report[f"rrf_arm_recall_{name}"] = _twin_recall(df)
            fused = rrf_fuse([arms["lsh"], arms["ivf"]], k=10)
            report["rrf_fused_recall"] = _twin_recall(fused)
            hybrid = rrf_fuse(list(arms.values()), k=10)
            report["rrf_hybrid_fused_recall"] = _twin_recall(hybrid)
            # the minimal lexical+dense pairing — ONE dense retriever +
            # BM25 — is where hybrid lift is visible (two dense arms
            # with uncorrelated structural misses already saturate)
            pair = rrf_fuse([arms["ivf"], arms["bm25_lex"]], k=10)
            report["rrf_ivf_bm25_pair_recall"] = _twin_recall(pair)
            report["phases"]["rrf"] = round(time.time() - t0, 1)

        # ---- pq: codebooks fit on a sample, bulk Arrow encode
        #          throughput, ADC recall vs exact brute force on the
        #          UNIFORM corpus (distinct vectors + planted twins —
        #          the clustered corpus tie-collapses reconstructions,
        #          which measures the tiebreak, not the quantizer) ----
        if "pq" in phases:
            # twin rows: their true rank-1 neighbor is vec_id - 1
            queries = uniform.filter(
                (F.col("vec_id") % 1000 == 0) & (F.col("vec_id") > 0)
            ).limit(q).localCheckpoint(eager=True)
            truth = {
                (r.query_id, r.neighbor_id)
                for r in SIM.cosine_topk_arrow(queries, uniform, k=10).collect()
            }
            t0 = time.time()
            sample = uniform.filter(
                F.col("vec_id") % max(n // 200_000, 1) == 0
            )
            books = SIM.pq_fit(sample, iters=2, use_arrow=True)
            report["phases"]["pq_fit_sample"] = round(time.time() - t0, 1)
            t0 = time.time()
            codes = SIM.pq_encode_arrow(uniform, books).localCheckpoint(
                eager=True
            )
            wall = time.time() - t0
            report["phases"]["pq_encode_arrow"] = round(wall, 1)
            report["pq_encode_rows_per_sec"] = round(n / wall)
            slice_n = min(n, 100_000)
            t0 = time.time()
            uniform.filter(F.col("vec_id") < slice_n).select(
                "vec_id", SIM.pq_encode("embedding", books).alias("codes")
            ).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            report["phases"]["pq_encode_expr_slice"] = round(wall, 1)
            report["pq_encode_expr_rows_per_sec"] = round(slice_n / wall)
            # ADC = exact queries vs the reconstructed (compressed) index
            t0 = time.time()
            recon = SIM.pq_reconstruct_arrow(codes, books)
            got = {
                (r.query_id, r.neighbor_id)
                for r in SIM.cosine_topk_arrow(queries, recon, k=10).collect()
            }
            report["phases"]["pq_adc_topk_arrow"] = round(time.time() - t0, 1)
            report["pq_recall_at_10"] = round(
                len(got & truth) / max(len(truth), 1), 3
            )
            twin_hits = sum(
                1 for (qid, nid) in got if nid == qid - 1
            )
            report["pq_twin_recall"] = round(
                twin_hits / max(queries.count(), 1), 3
            )
            # production shape: 8×256 codebooks (64-bit codes, the FAISS
            # default) — same machinery, trained/encoded via the Arrow
            # paths (the 2048-term literal expression is gate-only)
            t0 = time.time()
            books256 = SIM.pq_fit(
                sample, codebooks_shape=(8, 256), iters=2, use_arrow=True
            )
            report["phases"]["pq_fit256_sample"] = round(time.time() - t0, 1)
            t0 = time.time()
            codes256 = SIM.pq_encode_arrow(uniform, books256).localCheckpoint(
                eager=True
            )
            wall = time.time() - t0
            report["phases"]["pq_encode256_arrow"] = round(wall, 1)
            report["pq256_encode_rows_per_sec"] = round(n / wall)
            t0 = time.time()
            recon256 = SIM.pq_reconstruct_arrow(codes256, books256)
            got256 = {
                (r.query_id, r.neighbor_id)
                for r in SIM.cosine_topk_arrow(
                    queries, recon256, k=10
                ).collect()
            }
            report["phases"]["pq_adc256_topk_arrow"] = round(
                time.time() - t0, 1
            )
            report["pq256_recall_at_10"] = round(
                len(got256 & truth) / max(len(truth), 1), 3
            )
            report["pq256_twin_recall"] = round(
                sum(1 for (qid, nid) in got256 if nid == qid - 1)
                / max(queries.count(), 1),
                3,
            )

        # ---- ingest: per-batch cost of the incremental ANN index ----
        if "ingest" in phases:
            from streaming_etl_pipeline_spark.streaming.ingest import (
                ann_index_batch,
                load_ann_index,
            )

            idx_path = os.path.join(work, "ann_index")
            m = min(n, 1_000_000)
            for epoch in (0, 1):
                batch = corpus.filter(
                    (F.col("vec_id") >= epoch * m)
                    & (F.col("vec_id") < (epoch + 1) * m)
                )
                t0 = time.time()
                ann_index_batch(
                    batch, epoch, idx_path, centroids, run_token="soak"
                )
                wall = time.time() - t0
                report["phases"][f"ingest_trigger{epoch}"] = round(wall, 1)
                report[f"ingest_trigger{epoch}_rows_per_sec"] = round(m / wall)
            queries = corpus.filter(
                F.col("vec_id") % max(n // q, 1) == 3
            ).limit(q).localCheckpoint(eager=True)
            idx = load_ann_index(spark, idx_path).localCheckpoint(eager=True)
            t0 = time.time()
            found = SIM.ivf_pq_topk(
                queries, None, centroids, k=10, nprobe=8, corpus_index=idx
            ).count()
            report["phases"]["ingest_probe"] = round(time.time() - t0, 1)
            report["ingest_index_rows"] = idx.count()
            report["ingest_probe_results"] = found

        # ---- hybrid_store: the PRODUCTION hybrid shape — both stores
        #      maintained by their per-batch writers, one query
        #      batch fused from the stored indexes (the r7 hybrid arm
        #      built its BM25 index ad hoc; this proves the end-to-end
        #      store-backed recipe) ----
        if "hybrid_store" in phases:
            from streaming_etl_pipeline_spark.operators.retrieval import (
                bm25_topk_from_store,
                rrf_fuse,
            )
            from streaming_etl_pipeline_spark.streaming.ingest import (
                ann_index_batch,
                bm25_postings_batch,
                load_ann_index,
            )

            n_h = min(n, 1_000_000)
            hpath = os.path.join(work, "hybrid_hard")
            hard_twin_vectors(spark, n_h).repartition(64).write.parquet(
                hpath
            )
            hard = spark.read.parquet(hpath)
            h_twin = (F.col("vec_id") % 1000 == 0) & (F.col("vec_id") > 0)
            h_queries = hard.filter(h_twin).limit(q).localCheckpoint(
                eager=True
            )
            nq_h = h_queries.count()

            def _h_recall(df) -> float:
                got = {(r.query_id, r.neighbor_id) for r in df.collect()}
                return round(
                    sum(1 for (a, b) in got if b == a - 1) / max(nq_h, 1),
                    3,
                )

            # quantizer state for the dense store (the same call the
            # drift loop's retrain makes)
            t0 = time.time()
            h_cents, h_books = SIM.retrain_quantizer(
                hard, n_cells=64, codebooks_shape=(8, 128), iters=2,
                sample_fraction=min(1.0, 200_000 / n_h),
            )
            report["phases"]["hybrid_quantizer_fit"] = round(
                time.time() - t0, 1
            )
            # both stores maintained by their per-batch writers,
            # two epochs each
            ann_store = os.path.join(work, "hybrid_ann_store")
            bm_store = os.path.join(work, "hybrid_bm25_store")
            half = n_h // 2
            for epoch in (0, 1):
                sl = hard.filter(
                    (F.col("vec_id") >= epoch * half)
                    & (F.col("vec_id") < (epoch + 1) * half)
                )
                t0 = time.time()
                ann_index_batch(
                    sl, epoch, ann_store, h_cents, codebooks=h_books,
                    run_token="hyb",
                )
                report["phases"][f"hybrid_ann_trigger{epoch}"] = round(
                    time.time() - t0, 1
                )
                t0 = time.time()
                bm25_postings_batch(
                    sl.select(
                        F.col("vec_id").alias("doc_id"),
                        lex_text_expr(F.col("embedding")).alias("text"),
                    ),
                    epoch, bm_store, run_token="hyb",
                )
                report["phases"][f"hybrid_bm25_trigger{epoch}"] = round(
                    time.time() - t0, 1
                )
            # ONE query batch, both arms from their stores, fused
            t0 = time.time()
            idx = load_ann_index(spark, ann_store).localCheckpoint(
                eager=True
            )
            dense = SIM.ivf_pq_topk(
                h_queries, None, h_cents, k=10, nprobe=8,
                codebooks=h_books, corpus_index=idx,
            ).localCheckpoint(eager=True)
            report["phases"]["hybrid_dense_probe"] = round(
                time.time() - t0, 1
            )
            t0 = time.time()
            lex_q = h_queries.select(
                F.col("vec_id").alias("query_id"),
                F.explode(
                    F.split(lex_text_expr(F.col("embedding")), " ")
                ).alias("qterm"),
            )
            lex = bm25_topk_from_store(
                spark, bm_store, lex_q, k=10, exclude_self=True
            ).localCheckpoint(eager=True)
            report["phases"]["hybrid_bm25_query"] = round(
                time.time() - t0, 1
            )
            t0 = time.time()
            fused = rrf_fuse([dense, lex], k=10)
            report["hybrid_recall_dense_ivfpq"] = _h_recall(dense)
            report["hybrid_recall_bm25_store"] = _h_recall(lex)
            report["hybrid_recall_fused"] = _h_recall(fused)
            report["phases"]["hybrid_fuse"] = round(time.time() - t0, 1)

        # ---- drift_loop: recall decay on a drifted stream and its
        #      recovery through monitor → retrain → re-encode/swap ----
        if "drift_loop" in phases:
            from streaming_etl_pipeline_spark.streaming.ingest import (
                ann_index_batch,
                load_ann_index,
                maybe_retrain_ann_index,
            )

            n_a = min(n, 1_000_000)
            n_b = n_a // 4
            # pattern A: the clustered corpus; quantizer trained on it
            a_vecs = corpus.filter(F.col("vec_id") < n_a)
            t0 = time.time()
            d_cents, d_books = SIM.retrain_quantizer(
                a_vecs, n_cells=64, codebooks_shape=(8, 64), iters=2,
                sample_fraction=min(1.0, 200_000 / n_a),
            )
            report["phases"]["drift_quantizer_fit"] = round(
                time.time() - t0, 1
            )
            # drifted pattern B: a DC-shifted region the A-quantizer
            # never carved cells or codewords for, with planted twins
            bpath = os.path.join(work, "drift_b")
            b_raw = hard_twin_vectors(
                spark, n_b, id_offset=n_a, twin_every=100
            )
            # +1.5 DC moves B onto a region the A-quantizer never saw
            # WITHOUT drowning the within-B pattern variance (a larger
            # shift makes every B vector cosine-similar to every other
            # and no quantizer can resolve the planted twins)
            b_raw.select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x + F.lit(1.5)
                ).alias("embedding"),
            ).repartition(32).write.parquet(bpath)
            b_vecs = spark.read.parquet(bpath)
            b_twin = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") > n_a)
            b_queries = b_vecs.filter(b_twin).limit(q).localCheckpoint(
                eager=True
            )
            nq_b = b_queries.count()

            def _b_recall(df) -> float:
                got = {(r.query_id, r.neighbor_id) for r in df.collect()}
                return round(
                    sum(1 for (a, b) in got if b == a - 1) / max(nq_b, 1),
                    3,
                )

            # ann_index_batch indexes A, then keeps encoding drifted B against
            # the FROZEN pattern-A state
            didx = os.path.join(work, "drift_index")
            t0 = time.time()
            ann_index_batch(
                a_vecs, 0, didx, d_cents, codebooks=d_books,
                run_token="drift",
            )
            ann_index_batch(
                b_vecs, 1, didx, d_cents, codebooks=d_books,
                run_token="drift",
            )
            report["phases"]["drift_index_build"] = round(
                time.time() - t0, 1
            )
            t0 = time.time()
            before = SIM.ivf_pq_topk(
                b_queries, None, d_cents, k=10, nprobe=8,
                codebooks=d_books,
                corpus_index=load_ann_index(spark, didx),
            )
            report["drift_recall_before"] = _b_recall(before)
            report["phases"]["drift_probe_before"] = round(
                time.time() - t0, 1
            )
            # monitor → retrain → migrate, one call
            all_vecs = a_vecs.unionByName(b_vecs)
            t0 = time.time()
            res = maybe_retrain_ann_index(
                spark, didx, b_vecs, all_vecs, d_cents,
                codebooks_shape=(8, 64), iters=2,
                sample_fraction=min(1.0, 200_000 / (n_a + n_b)),
            )
            report["phases"]["drift_retrain_migrate"] = round(
                time.time() - t0, 1
            )
            report["drift_psi"] = res["psi"]
            report["drift_fired"] = bool(res["fired"])
            report["drift_reencode_rows"] = (
                res["reencode"]["rows"] if res["reencode"] else 0
            )
            t0 = time.time()
            after = SIM.ivf_pq_topk(
                b_queries, None, res["centroids"], k=10, nprobe=8,
                codebooks=res["codebooks"] or d_books,
                corpus_index=load_ann_index(spark, didx),
            )
            report["drift_recall_after"] = _b_recall(after)
            report["phases"]["drift_probe_after"] = round(
                time.time() - t0, 1
            )

        # ---- prune: prototype-based keep-hard over the clustered
        #      corpus (Arrow GEMM assignment + one per-cell window) ----
        if "prune" in phases:
            from streaming_etl_pipeline_spark.operators.clustering import (
                prototype_prune,
            )

            cents = corpus.filter(
                F.col("vec_id") % max(n // k, 1) == 0
            ).limit(k).localCheckpoint(eager=True)
            t0 = time.time()
            pruned = prototype_prune(
                corpus, cents, drop_frac=0.25, use_arrow=True
            )
            kept = pruned.agg(
                F.sum(F.col("kept").cast("long")).alias("kept"),
                F.count(F.lit(1)).alias("total"),
            ).first()
            wall = time.time() - t0
            report["phases"]["prototype_prune"] = round(wall, 1)
            report["prune_rows_per_sec"] = round(n / wall)
            report["prune_kept_frac"] = round(kept.kept / kept.total, 4)

        # ---- neardup: 2^planes-cell LSH pair join, planted twins ----
        if "neardup" in phases:
            t0 = time.time()
            bucketed = SIM.lsh_bucket_arrow(uniform, planes).localCheckpoint(
                eager=True
            )
            pairs = SIM.cosine_neardup_pairs(
                uniform, threshold=0.99, bucketed=bucketed
            )
            planted = pairs.filter(
                (F.col("id_b") - F.col("id_a") == 1)
                & (F.col("id_b") % 1000 == 0)
            ).count()
            n_pairs = pairs.count()
            wall = time.time() - t0
            bucketed.unpersist()
            report["phases"]["neardup"] = round(wall, 1)
            report["neardup_pairs_found"] = n_pairs
            report["neardup_planted_found"] = planted
            report["neardup_planted_total"] = (n - 1) // 1000

        # ---- bitext: M×M mining through the candidates= hook ----
        if "bitext" in phases:
            m = bitext_n
            src = spark.read.parquet(uniform_path).filter(
                F.col("vec_id") < m
            ).select(F.col("vec_id").alias("src_id"), "embedding")
            # targets = jittered copies of src (planted translations);
            # rows replaced by neardup twins in src (~0.1%) differ from
            # their tgt counterpart — recall denominator keeps them
            tgt = synth_vectors(
                spark, m, clusters=997, noise=1.7, jitter=0.01
            ).select((F.col("vec_id") + 10_000_000).alias("tgt_id"),
                     "embedding")
            b_s = SIM.lsh_bucket_arrow(
                src, planes, id_col="src_id"
            ).withColumnRenamed("embedding", "_l_vec")
            b_t = SIM.lsh_bucket_arrow(
                tgt, planes, id_col="tgt_id"
            ).withColumnRenamed("embedding", "_r_vec")
            from streaming_etl_pipeline_spark.functions.core import (
                cosine_similarity,
            )

            cand = b_s.join(b_t, "bucket").select(
                "src_id", "tgt_id",
                F.round(cosine_similarity("_l_vec", "_r_vec"), 9)
                .alias("cosine_sim"),
            )
            t0 = time.time()
            mined = SIM.bitext_margin_pairs(
                src, tgt, k=4, threshold=1.0,
                candidates=cand, cache_candidates=False,
            )
            # the heavy candidate-pair jobs run eagerly inside the call
            # (side stats localCheckpoint); the tail re-executed by the
            # two counts below is a cheap stats-sized join
            n_mined = mined.count()
            n_planted = mined.filter(
                F.col("tgt_id") - F.col("src_id") == 10_000_000
            ).count()
            wall = time.time() - t0
            report["phases"]["bitext"] = round(wall, 1)
            report["bitext_mined"] = n_mined
            report["bitext_planted_recall"] = round(n_planted / m, 3)
            report["bitext_candidate_pairs_est"] = round(m * m / 2**planes)

        spark.stop()  # flush event log
        report["resources"] = {
            **_eventlog_metrics(log_dir),
            "jvm_peak_rss_gb": _java_peak_rss_gb(),
        }
        report["value"] = round(sum(report["phases"].values()), 1)
        print(json.dumps(report))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
