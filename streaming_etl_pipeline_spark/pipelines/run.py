"""CLI entry points for the batch pipelines — the engine's equivalent of
the reference's ``spark-submit`` jobs and Airflow task chain
(``dags/streaming_pipeline_dag.py:355-366``: ingest → bronze→silver →
silver→gold → quality):

    python -m streaming_etl_pipeline_spark.pipelines.run b2s \\
        --bronze /data/bronze --silver /data/silver [--date 2024-06-15]
    python -m streaming_etl_pipeline_spark.pipelines.run s2g \\
        --silver /data/silver --gold /data/gold
    python -m streaming_etl_pipeline_spark.pipelines.run all \\
        --bronze /data/bronze --silver /data/silver --gold /data/gold
    python -m streaming_etl_pipeline_spark.pipelines.run dedup \\
        --docs /data/new_batch --store /data/dedup_store [--threshold 0.6]
    python -m streaming_etl_pipeline_spark.pipelines.run sample \\
        --input /data/docs --output /data/docs_10pct \\
        --fraction 0.1 --key-col doc_id [--seed run42]
    python -m streaming_etl_pipeline_spark.pipelines.run train-quantizer \\
        --input /data/embeddings --output /data/ivf_centroids \\
        [--k 256] [--iters 5]
    python -m streaming_etl_pipeline_spark.pipelines.run curate \\
        --docs /data/documents --output /data/training \\
        [--benchmark /data/eval_docs] [--max-tokens 2048] [--overlap 128]

Orchestration stays external (cron/Airflow/dbt invoke these commands);
idempotency comes from each writer replacing what it owns (a table, a
date's rows, an epoch), so re-running a task for a date converges
instead of duplicating.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.pipelines.medallion import (
    bronze_to_silver,
    silver_to_gold,
)
from streaming_etl_pipeline_spark.session import build_session


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="streaming_etl_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b2s = sub.add_parser("b2s", help="bronze → silver")
    b2s.add_argument("--bronze", required=True)
    b2s.add_argument("--silver", required=True)
    b2s.add_argument("--date", default=None)
    b2s.add_argument(
        "--no-merge", action="store_true",
        help="rebuild Silver from this Bronze alone instead of merging into "
        "it: without --date Silver holds exactly this run's rows; with "
        "--date only that date's rows are replaced",
    )
    b2s.add_argument("--validate", action="store_true")

    s2g = sub.add_parser("s2g", help="silver → gold")
    s2g.add_argument("--silver", required=True)
    s2g.add_argument("--gold", required=True)
    s2g.add_argument("--date", default=None)
    s2g.add_argument(
        "--skew", action="store_true",
        help="hot-key hardening: mergeable percentile sketches instead of "
             "exact percentile buffers (see tests/test_skew.py)",
    )

    both = sub.add_parser("all", help="b2s then s2g")
    both.add_argument("--bronze", required=True)
    both.add_argument("--silver", required=True)
    both.add_argument("--gold", required=True)
    both.add_argument("--date", default=None)
    both.add_argument("--validate", action="store_true")
    both.add_argument("--skew", action="store_true")

    dd = sub.add_parser(
        "dedup", help="incremental near-dedup of a document batch vs a store"
    )
    dd.add_argument("--docs", required=True, help="parquet with doc_id,text")
    dd.add_argument("--store", required=True, help="signature store dir")
    dd.add_argument("--threshold", type=float, default=0.6)
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")

    sm = sub.add_parser(
        "sample", help="deterministic keyed-hash sample of a parquet table"
    )
    sm.add_argument("--input", required=True)
    sm.add_argument("--output", required=True)
    sm.add_argument("--fraction", type=float, required=True)
    sm.add_argument("--key-col", required=True)
    sm.add_argument("--seed", default="sample")

    tq = sub.add_parser(
        "train-quantizer",
        help="k-means-train IVF centroids over an embedding table",
    )
    tq.add_argument("--input", required=True, help="parquet with vec_id,embedding")
    tq.add_argument("--output", required=True, help="centroid parquet out")
    tq.add_argument("--k", type=int, default=256)
    tq.add_argument("--iters", type=int, default=5)
    tq.add_argument("--id-col", default="vec_id")
    tq.add_argument("--vec-col", default="embedding")

    pp = sub.add_parser(
        "prune",
        help="prototype-based data pruning (Sorscher et al.): rank "
        "vectors by cosine to their centroid, drop the easiest "
        "fraction of each cell; writes (id, centroid_id, proto_sim, "
        "proto_rank, cell_n, kept)",
    )
    pp.add_argument("--input", required=True, help="parquet with vec_id,embedding")
    pp.add_argument(
        "--centroids", required=True,
        help="centroid parquet (train-quantizer output)",
    )
    pp.add_argument("--output", required=True, help="pruning-decision parquet out")
    pp.add_argument("--drop-frac", type=float, default=0.25)
    pp.add_argument("--id-col", default="vec_id")
    pp.add_argument("--vec-col", default="embedding")
    pp.add_argument(
        "--expression-assign", action="store_true",
        help="use the literal-expression assignment instead of the "
        "Arrow GEMM path (the default; ~100x cosine throughput)",
    )

    bi = sub.add_parser(
        "build-bm25-index",
        help="materialize the full-vocabulary BM25 posting index "
        "(term-hash-bucketed parquet + stats) — the build-once layout "
        "bm25_topk_from_store scores against with partition pruning",
    )
    bi.add_argument("--input", required=True, help="parquet with doc_id,text")
    bi.add_argument("--output", required=True, help="index directory out")
    bi.add_argument("--buckets", type=int, default=64)
    bi.add_argument("--id-col", default="doc_id")
    bi.add_argument("--text-col", default="text")

    cs = sub.add_parser(
        "compact-store",
        help="offline small-file compaction of a token-namespaced "
        "ingest store (dedup signatures / ANN index / BM25 "
        "postings+stats): folds per-trigger partitions into one; run "
        "with the stream stopped and its checkpoint retired",
    )
    cs.add_argument("--path", required=True, help="store directory")
    cs.add_argument(
        "--secondary-partition-cols", default="",
        help="comma list of partition columns to preserve below "
        "ingest_batch_id (e.g. term_bucket for BM25 postings)",
    )

    rs = sub.add_parser(
        "repair-store",
        help="recover an ingest store from a crash inside a "
        "compaction/migration directory swap (the leftover staging or "
        "backup directory is rolled forward or back)",
    )
    rs.add_argument("--path", required=True, help="store directory")

    di = sub.add_parser(
        "delete-ids",
        help="tombstone ids in an ingest store (GDPR/takedown): reads "
        "exclude them immediately via the _tombstones sidecar; the "
        "next compact-store folds them away physically. With --bm25 "
        "the path is a BM25 index root and the corpus stats are "
        "decremented too",
    )
    di.add_argument("--path", required=True, help="store directory")
    di.add_argument(
        "--ids", required=True,
        help="comma list of ids, or @<path> to a parquet/CSV with the "
        "id column",
    )
    di.add_argument("--id-col", default="doc_id")
    di.add_argument(
        "--bm25", action="store_true",
        help="treat --path as a BM25 index root (postings + stats)",
    )

    bn = sub.add_parser(
        "build-ngram-store",
        help="write a batch corpus into an n-gram count store as one "
        "epoch partition (ngram_counts_batch; a re-run replaces it) — "
        "the store score-lm --model-store consumes",
    )
    bn.add_argument("--input", required=True, help="parquet with doc_id,text")
    bn.add_argument("--output", required=True, help="count store dir out")
    bn.add_argument("--id-col", default="doc_id")
    bn.add_argument("--text-col", default="text")
    bn.add_argument(
        "--order", type=int, default=3,
        help="n-gram order of the store (3 keeps the frozen trigram "
        "layout; other orders store (w1..wN, c))",
    )

    fl = sub.add_parser(
        "fit-lm",
        help="fit a Kneser-Ney model on a corpus and save the "
        "probability tables (fit-once/score-many artifact; score-lm "
        "--model consumes it). --order 3 with no pruning saves the "
        "trigram artifact (format 1); any other order/min-count saves "
        "the pruned order-n artifact (format 2)",
    )
    fl.add_argument("--input", required=True, help="parquet with doc_id,text")
    fl.add_argument("--output", required=True, help="model dir out")
    fl.add_argument("--text-col", default="text")
    fl.add_argument("--order", type=int, default=3, help="n-gram order")
    fl.add_argument(
        "--min-count", type=int, default=1,
        help="KenLM-style top-order count prune (1 = keep all)",
    )

    sl = sub.add_parser(
        "score-lm",
        help="per-document Kneser-Ney log-prob: self-trained on the "
        "input by default, or scored against the model rebuilt from an "
        "n-gram count store (--model-store) or a saved "
        "fit-lm artifact (--model, either format) with backoff for "
        "OOV n-grams",
    )
    sl.add_argument("--input", required=True, help="parquet with doc_id,text")
    sl.add_argument("--output", required=True, help="score parquet out")
    sl.add_argument(
        "--model-store", default=None,
        help="n-gram count store dir (build-ngram-store output); "
        "omit to self-train on --input",
    )
    sl.add_argument(
        "--model", default=None,
        help="saved model dir (fit-lm output, format 1 or 2) — "
        "mutually exclusive with --model-store",
    )
    sl.add_argument("--id-col", default="doc_id")
    sl.add_argument("--text-col", default="text")
    sl.add_argument(
        "--order", type=int, default=3,
        help="n-gram order for self-training or --model-store refits "
        "(a --model artifact carries its own order)",
    )
    sl.add_argument(
        "--min-count", type=int, default=1,
        help="top-order count prune for self-training or --model-store "
        "refits",
    )

    ra = sub.add_parser(
        "retrain-ann",
        help="the ANN drift loop in one run: occupancy-PSI monitor over "
        "recent traffic, and when it fires (>= --psi-threshold) "
        "retrain the quantizer on the corpus and re-encode/swap the "
        "stored index; prints the new centroids/codebooks as JSON for "
        "encoding later batches",
    )
    ra.add_argument("--index", required=True, help="ANN index store")
    ra.add_argument(
        "--recent", required=True,
        help="parquet of recent traffic vectors (id, embedding)",
    )
    ra.add_argument(
        "--corpus", required=True,
        help="parquet of current corpus vectors (id, embedding) — must "
        "cover every live indexed id",
    )
    ra.add_argument(
        "--centroids", required=True,
        help="parquet of the CURRENT centroids (id, embedding)",
    )
    ra.add_argument(
        "--state-out", required=True,
        help="directory for the new quantizer state (centroids parquet "
        "+ codebooks JSON) when the retrain fires",
    )
    ra.add_argument("--psi-threshold", type=float, default=0.25)
    ra.add_argument("--m", type=int, default=8)
    ra.add_argument("--pq-k", type=int, default=256)
    ra.add_argument("--iters", type=int, default=5)
    ra.add_argument("--sample-fraction", type=float, default=None)
    ra.add_argument("--id-col", default="vec_id")
    ra.add_argument("--vec-col", default="embedding")

    tp = sub.add_parser(
        "train-pq",
        help="train product-quantization codebooks over an embedding "
        "table; writes the [m][k][sub] nested list as JSON for "
        "pq_encode/pq_adc_topk/ivf_pq_topk codebooks=",
    )
    tp.add_argument("--input", required=True, help="parquet with vec_id,embedding")
    tp.add_argument("--output", required=True, help="codebook JSON path")
    tp.add_argument("--m", type=int, default=8, help="subspaces")
    tp.add_argument("--k", type=int, default=256, help="codewords per subspace")
    tp.add_argument("--iters", type=int, default=5)
    tp.add_argument("--id-col", default="vec_id")
    tp.add_argument("--vec-col", default="embedding")
    tp.add_argument(
        "--expression-assign", action="store_true",
        help="use the literal-expression k-means assignment instead of "
        "the Arrow GEMM path (the default; 16x faster at k=256)",
    )

    cr = sub.add_parser(
        "curate",
        help="full corpus curation: quality → dedup → decontaminate → "
        "redact → split → chunk → partitioned training parquet",
    )
    cr.add_argument("--docs", required=True, help="parquet with doc_id,text")
    cr.add_argument("--output", required=True)
    cr.add_argument("--benchmark", default=None, help="eval-doc parquet (text)")
    cr.add_argument("--max-tokens", type=int, default=2048)
    cr.add_argument("--overlap", type=int, default=128)
    cr.add_argument("--lsh-threshold", type=float, default=0.6)
    cr.add_argument("--contamination-threshold", type=float, default=0.10)
    cr.add_argument("--id-col", default="doc_id")
    cr.add_argument("--text-col", default="text")
    cr.add_argument(
        "--charlm-drop-frac", type=float, default=None,
        help="drop the least-LM-typical fraction of docs (CCNet-style)",
    )
    cr.add_argument(
        "--lm-gate", choices=("charlm", "kn"), default="charlm",
        help="LM scorer behind --charlm-drop-frac: char-trigram "
        "typicality or word-level Kneser-Ney log-prob",
    )
    cr.add_argument(
        "--substring-dup-max", type=float, default=None,
        help="drop docs whose cross-doc duplicated-span fraction exceeds this",
    )
    cr.add_argument(
        "--dsir-target", default=None,
        help="target-corpus parquet (text) for the DSIR relevance gate",
    )
    cr.add_argument(
        "--dsir-keep-frac", type=float, default=None,
        help="fraction of highest-DSIR-weight docs to keep (with --dsir-target)",
    )
    cr.add_argument(
        "--nb-labels", default=None,
        help="weak-label parquet (doc_id, label boolean) enabling the "
        "NB model-based quality gate",
    )
    cr.add_argument(
        "--nb-keep-threshold", type=float, default=0.0,
        help="keep docs with nb_score above this (with --nb-labels; "
        "0 = the model's decision boundary)",
    )
    cr.add_argument(
        "--cc-algorithm", choices=("label_prop", "star"),
        default="label_prop",
        help="near-dup cluster canonicalization: label_prop (clique-ish "
        "LSH graphs) or star contraction (chain-heavy crawl corpora)",
    )
    cr.add_argument(
        "--shards", type=int, default=None,
        help="write N content-deterministic training shards with a "
        "_manifest.json integrity record instead of split-partitioned "
        "parquet",
    )
    cr.add_argument(
        "--url-col", default=None,
        help="URL column enabling the registrable-domain pre-gate "
        "(blocklist / per-domain cap) before any text stage",
    )
    cr.add_argument(
        "--domain-blocklist", default=None,
        help="parquet with a `domain` column; rows whose registrable "
        "domain matches are dropped (with --url-col)",
    )
    cr.add_argument(
        "--domain-cap", type=int, default=None,
        help="keep at most N docs per registrable domain, preferring "
        "longer text (with --url-col)",
    )
    cr.add_argument(
        "--extract-html", action="store_true",
        help="run markup->text extraction (strip_html) on the text "
        "column before any quality/dedup stage — for raw-crawl input",
    )

    sc = sub.add_parser(
        "scd2", help="build a type-2 history table from a change log"
    )
    sc.add_argument("--input", required=True, help="change-log parquet")
    sc.add_argument("--output", required=True)
    sc.add_argument("--key", required=True)
    sc.add_argument("--attrs", required=True, help="comma-separated tracked columns")
    sc.add_argument("--ts-col", required=True)
    sc.add_argument("--order-cols", default=None,
                    help="comma-separated tie-break order (default: ts-col)")

    cd = sub.add_parser(
        "cdc-apply", help="apply an insert/update/delete batch to a snapshot"
    )
    cd.add_argument("--snapshot", required=True)
    cd.add_argument("--changes", required=True)
    cd.add_argument("--output", required=True)
    cd.add_argument("--key", required=True)
    cd.add_argument("--ts-col", required=True)
    cd.add_argument("--payload-cols", required=True, help="comma-separated")
    cd.add_argument("--op-col", default="op")
    cd.add_argument("--order-cols", default=None)

    df_ = sub.add_parser(
        "diff", help="row-level diff of two snapshots (added/removed/changed)"
    )
    df_.add_argument("--old", required=True)
    df_.add_argument("--new", required=True)
    df_.add_argument("--output", required=True)
    df_.add_argument("--key", required=True)

    zo = sub.add_parser(
        "zorder", help="rewrite a table z-ordered on the given columns"
    )
    zo.add_argument("--input", required=True)
    zo.add_argument("--output", required=True)
    zo.add_argument("--by", required=True, help="comma-separated cluster columns")
    zo.add_argument("--files", type=int, default=None)

    op = sub.add_parser(
        "optimize",
        help="table maintenance in one rewrite: consolidate small files, "
        "optionally cluster (sort or z-order) and bloom-index the output",
    )
    op.add_argument("--input", required=True)
    op.add_argument("--output", required=True)
    op.add_argument("--cluster-by", default=None,
                    help="comma-separated sort-cluster columns (zone maps)")
    op.add_argument("--zorder-by", default=None,
                    help="comma-separated z-order columns (multi-dim pruning)")
    op.add_argument("--bloom-cols", default=None,
                    help="comma-separated bloom-filter point-lookup columns")
    op.add_argument("--partition-by", default=None)
    op.add_argument("--files", type=int, default=None)
    op.add_argument(
        "--versioned", action="store_true",
        help="commit the rewrite as a new snapshot of a versioned table "
        "(atomic pointer swap — safe for concurrent readers)",
    )

    bf = sub.add_parser(
        "backfill",
        help="historical date-range backfill: per-date b2s + s2g with "
        "stage validation; idempotent: each date replaces its own rows, "
        "keeps every other date's and commits each table whole",
    )
    bf.add_argument("--bronze", required=True)
    bf.add_argument("--silver", required=True)
    bf.add_argument("--gold", required=True)
    bf.add_argument("--start", required=True, help="YYYY-MM-DD")
    bf.add_argument("--end", required=True, help="YYYY-MM-DD")
    bf.add_argument("--validate", action="store_true")
    bf.add_argument("--on-error", choices=("continue", "fail"),
                    default="continue")
    return p


def main(argv: list[str] | None = None) -> int:
    parser = make_parser()
    args = parser.parse_args(argv)
    if args.cmd == "curate" and (
        (args.dsir_target is None) != (args.dsir_keep_frac is None)
    ):
        parser.error(
            "--dsir-target and --dsir-keep-frac must be given together"
        )
    if args.cmd == "curate" and (
        (args.domain_blocklist or args.domain_cap) and not args.url_col
    ):
        parser.error(
            "--domain-blocklist / --domain-cap require --url-col"
        )
    spark = build_session(app_name=f"pipeline-{args.cmd}")
    metrics: dict[str, float] = {}
    if args.cmd in ("b2s", "all"):
        res = bronze_to_silver(
            spark,
            args.bronze,
            args.silver,
            run_date=args.date,
            merge_with_existing=not getattr(args, "no_merge", False),
            validate=getattr(args, "validate", False),
        )
        metrics.update({f"b2s.{k}": v for k, v in res.metrics.items()})
    if args.cmd in ("s2g", "all"):
        res = silver_to_gold(
            spark, args.silver, args.gold, run_date=args.date,
            skew=getattr(args, "skew", False),
        )
        metrics.update({f"s2g.{k}": v for k, v in res.metrics.items()})
    if args.cmd == "dedup":
        from streaming_etl_pipeline_spark.operators.dedup import (
            incremental_near_dups,
        )

        docs = spark.read.parquet(args.docs)
        pairs = incremental_near_dups(
            spark,
            docs,
            args.store,
            id_col=args.id_col,
            text_col=args.text_col,
            threshold=args.threshold,
        )
        metrics["dedup.input_docs"] = docs.count()
        metrics["dedup.near_dup_pairs"] = pairs.count()
    if args.cmd == "sample":
        from streaming_etl_pipeline_spark.operators.sampling import hash_sample

        df = spark.read.parquet(args.input)
        out = hash_sample(df, args.fraction, key_col=args.key_col, seed=args.seed)
        out.write.mode("overwrite").parquet(args.output)
        metrics["sample.input_rows"] = df.count()
        metrics["sample.output_rows"] = spark.read.parquet(args.output).count()
    if args.cmd == "train-quantizer":
        from streaming_etl_pipeline_spark.operators.clustering import kmeans_fit

        vecs = spark.read.parquet(args.input)
        cents = kmeans_fit(
            vecs, k=args.k, iters=args.iters,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        cents.write.mode("overwrite").parquet(args.output)
        metrics["quantizer.k"] = args.k
        metrics["quantizer.centroids"] = spark.read.parquet(args.output).count()
    if args.cmd == "build-bm25-index":
        from streaming_etl_pipeline_spark.sources.io import replace_dir
        from streaming_etl_pipeline_spark.streaming.ingest import (
            bm25_postings_batch,
        )

        docs = spark.read.parquet(args.input)
        # a build replaces the WHOLE index: the epoch write alone would
        # keep earlier epochs, compacted partitions and tombstones
        replace_dir(
            spark, args.output,
            lambda path: bm25_postings_batch(
                docs, 0, path,
                buckets=args.buckets, id_col=args.id_col,
                text_col=args.text_col, run_token="batch",
            ),
        )
        metrics["bm25_index.docs"] = docs.count()
        metrics["bm25_index.buckets"] = float(args.buckets)
    if args.cmd == "build-ngram-store":
        from streaming_etl_pipeline_spark.streaming.ingest import (
            ngram_counts_batch,
        )

        docs = spark.read.parquet(args.input)
        ngram_counts_batch(
            docs, 0, args.output,
            id_col=args.id_col, text_col=args.text_col,
            run_token="batch", order=args.order,
        )
        metrics["ngram_store.docs"] = docs.count()
    if args.cmd == "fit-lm":
        from streaming_etl_pipeline_spark.operators import ngram_lm as NL

        docs = spark.read.parquet(args.input)
        if args.order == 3 and args.min_count <= 1:
            model = NL.kn_lm_fit(docs, text_col=args.text_col)
            NL.save_kn_model(model, args.output)
            metrics["fit_lm.tri_types"] = model.tri.count()
        else:
            model = NL.kn_lm_fit_n(
                docs, order=args.order, text_col=args.text_col,
                min_count=args.min_count,
            )
            NL.save_kn_model_n(model, args.output)
            metrics["fit_lm.top_types"] = model.tables[-1].count()
        metrics["fit_lm.n_bigram_types"] = float(model.n_bigram_types)
    if args.cmd == "score-lm":
        from streaming_etl_pipeline_spark.operators import ngram_lm as NL

        docs = spark.read.parquet(args.input)
        model = None
        if args.model and args.model_store:
            raise SystemExit("--model and --model-store are exclusive")
        if args.model:
            model = NL.load_any_kn_model(spark, args.model)
        elif args.model_store:
            from streaming_etl_pipeline_spark.streaming.ingest import (
                kn_lm_fit_from_store,
            )

            model = kn_lm_fit_from_store(
                spark, args.model_store,
                order=args.order, min_count=args.min_count,
            )
        order_n = (
            model.order
            if isinstance(model, NL.KNModelN)
            else (3 if model is not None else args.order)
        )
        if order_n == 3 and not isinstance(model, NL.KNModelN) and (
            args.min_count <= 1 or model is not None
        ):
            scored = NL.kn_lm_scores(
                docs, id_col=args.id_col, text_col=args.text_col,
                model=model,
            )
        else:
            scored = NL.kn_lm_scores_n(
                docs, id_col=args.id_col, text_col=args.text_col,
                order=order_n, model=model, min_count=args.min_count,
            )
        scored.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        metrics["score_lm.docs"] = out.count()
        metrics["score_lm.self_trained"] = float(
            args.model_store is None and args.model is None
        )
    if args.cmd == "compact-store":
        from streaming_etl_pipeline_spark.streaming.ingest import (
            compact_ingest_store,
        )

        cols = tuple(
            c for c in args.secondary_partition_cols.split(",") if c
        )
        res = compact_ingest_store(
            spark, args.path, secondary_partition_cols=cols
        )
        metrics["compact.partitions_before"] = float(
            res["partitions_before"]
        )
        metrics["compact.rows"] = float(res["rows"])
    if args.cmd == "repair-store":
        from streaming_etl_pipeline_spark.sources.io import repair_store

        action = repair_store(spark, args.path)
        metrics["repair.action"] = action  # type: ignore[assignment]
    if args.cmd == "delete-ids":
        from streaming_etl_pipeline_spark.streaming.ingest import (
            bm25_delete_ids,
            delete_ids,
        )

        if args.ids.startswith("@"):
            src = args.ids[1:]
            ids_df = (
                spark.read.parquet(src)
                if src.endswith(".parquet") or os.path.isdir(src)
                else spark.read.option("header", "true").csv(src)
            ).select(args.id_col)
        else:
            ids_df = spark.createDataFrame(
                [(int(i),) for i in args.ids.split(",") if i],
                f"{args.id_col} long",
            )
        if args.bm25:
            res = bm25_delete_ids(
                spark, args.path, ids_df, id_col=args.id_col
            )
            metrics["delete.deleted"] = float(res["deleted"])
            metrics["delete.len_sum"] = float(res["len_sum"])
        else:
            metrics["delete.deleted"] = float(
                delete_ids(spark, args.path, ids_df, args.id_col)
            )
    if args.cmd == "retrain-ann":
        import json as _json

        from streaming_etl_pipeline_spark.streaming.ingest import (
            maybe_retrain_ann_index,
        )

        recent = spark.read.parquet(args.recent)
        corpus_v = spark.read.parquet(args.corpus)
        cents = spark.read.parquet(args.centroids)
        res = maybe_retrain_ann_index(
            spark, args.index, recent, corpus_v, cents,
            codebooks_shape=(args.m, args.pq_k),
            psi_threshold=args.psi_threshold,
            sample_fraction=args.sample_fraction,
            iters=args.iters,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        metrics["retrain.psi"] = float(res["psi"])
        metrics["retrain.fired"] = float(res["fired"])
        if res["fired"]:
            os.makedirs(args.state_out, exist_ok=True)
            res["centroids"].write.mode("overwrite").parquet(
                os.path.join(args.state_out, "centroids")
            )
            with open(
                os.path.join(args.state_out, "codebooks.json"), "w"
            ) as f:
                _json.dump(res["codebooks"], f)
            metrics["retrain.reencoded_rows"] = float(
                res["reencode"]["rows"]
            )
            metrics["retrain.missing_vectors"] = float(
                res["reencode"]["missing_vectors"]
            )
    if args.cmd == "prune":
        from streaming_etl_pipeline_spark.operators.clustering import (
            prototype_prune,
        )

        vecs = spark.read.parquet(args.input)
        cents = spark.read.parquet(args.centroids)
        decisions = prototype_prune(
            vecs,
            cents,
            drop_frac=args.drop_frac,
            id_col=args.id_col,
            vec_col=args.vec_col,
            use_arrow=not args.expression_assign,
        )
        decisions.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        kept = written.filter("kept").count()
        metrics["prune.total"] = written.count()
        metrics["prune.kept"] = kept
        metrics["prune.drop_frac"] = args.drop_frac
    if args.cmd == "train-pq":
        from streaming_etl_pipeline_spark.operators.similarity import pq_fit

        vecs = spark.read.parquet(args.input)
        books = pq_fit(
            vecs,
            codebooks_shape=(args.m, args.k),
            iters=args.iters,
            id_col=args.id_col,
            vec_col=args.vec_col,
            use_arrow=not args.expression_assign,
        )
        with open(args.output, "w") as f:
            json.dump(books, f)
        metrics["pq.m"] = args.m
        metrics["pq.k"] = args.k
        metrics["pq.sub_dim"] = len(books[0][0])
    if args.cmd == "curate":
        from streaming_etl_pipeline_spark.pipelines.training_data import (
            curate_corpus,
        )

        docs = spark.read.parquet(args.docs)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        res = curate_corpus(
            spark,
            docs,
            args.output,
            benchmark=bench,
            id_col=args.id_col,
            text_col=args.text_col,
            max_tokens=args.max_tokens,
            overlap=args.overlap,
            lsh_threshold=args.lsh_threshold,
            contamination_threshold=args.contamination_threshold,
            charlm_drop_frac=args.charlm_drop_frac,
            lm_gate=args.lm_gate,
            substring_dup_max=args.substring_dup_max,
            cc_algorithm=args.cc_algorithm,
            dsir_target=(
                spark.read.parquet(args.dsir_target)
                if args.dsir_target
                else None
            ),
            dsir_keep_frac=args.dsir_keep_frac,
            nb_labeled=(
                spark.read.parquet(args.nb_labels)
                if args.nb_labels
                else None
            ),
            nb_keep_threshold=args.nb_keep_threshold,
            url_col=args.url_col,
            domain_blocklist=(
                spark.read.parquet(args.domain_blocklist)
                if args.domain_blocklist
                else None
            ),
            domain_cap_n=args.domain_cap,
            shard_output=args.shards,
            extract_html=args.extract_html,
        )
        metrics.update({f"curate.{k}": v for k, v in res.metrics.items()})
    if args.cmd == "scd2":
        from streaming_etl_pipeline_spark.warehouse import build_scd2

        changes = spark.read.parquet(args.input)
        hist = build_scd2(
            changes,
            key=args.key,
            attrs=args.attrs.split(","),
            ts_col=args.ts_col,
            order_cols=args.order_cols.split(",") if args.order_cols else None,
        )
        hist.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        metrics["scd2.versions"] = out.count()
        metrics["scd2.current"] = out.filter("is_current").count()
    if args.cmd == "cdc-apply":
        from streaming_etl_pipeline_spark.operators.joins import apply_cdc

        snap = spark.read.parquet(args.snapshot)
        changes = spark.read.parquet(args.changes)
        out = apply_cdc(
            snap,
            changes,
            key=args.key,
            ts_col=args.ts_col,
            payload_cols=args.payload_cols.split(","),
            op_col=args.op_col,
            order_cols=args.order_cols.split(",") if args.order_cols else None,
        )
        out.write.mode("overwrite").parquet(args.output)
        metrics["cdc.snapshot_rows"] = snap.count()
        metrics["cdc.change_rows"] = changes.count()
        metrics["cdc.output_rows"] = spark.read.parquet(args.output).count()
    if args.cmd == "diff":
        from streaming_etl_pipeline_spark.operators.joins import snapshot_diff

        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        d = snapshot_diff(old, new, key=args.key)
        d.write.mode("overwrite").parquet(args.output)
        by_op = {
            r.diff_op: r.n
            for r in spark.read.parquet(args.output)
            .groupBy("diff_op").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for op in ("added", "removed", "changed"):
            metrics[f"diff.{op}"] = by_op.get(op, 0)
    if args.cmd == "backfill":
        from streaming_etl_pipeline_spark.pipelines.medallion import backfill

        res = backfill(
            spark, args.bronze, args.silver, args.gold,
            start_date=args.start, end_date=args.end,
            validate=args.validate, on_error=args.on_error,
        )
        metrics.update({f"backfill.{k}": v for k, v in res.metrics.items()})
    if args.cmd == "zorder":
        from streaming_etl_pipeline_spark.sources.io import write_zordered

        df = spark.read.parquet(args.input)
        write_zordered(
            df, args.output, zorder_by=args.by.split(","), num_files=args.files
        )
        metrics["zorder.rows"] = spark.read.parquet(args.output).count()
    if args.cmd == "optimize":
        from streaming_etl_pipeline_spark.sources.io import (
            write_bloom_indexed,
            write_clustered,
            write_zordered,
        )

        if args.cluster_by and args.zorder_by:
            raise SystemExit("--cluster-by and --zorder-by are exclusive")
        df = spark.read.parquet(args.input)
        part = args.partition_by.split(",") if args.partition_by else None
        if args.zorder_by:
            # z-order first; bloom options can't compose with this writer
            # in one pass, so bloom-only requests use the bloom writer
            write_zordered(
                df, args.output, zorder_by=args.zorder_by.split(","),
                partition_by=part, num_files=args.files,
            )
        elif args.cluster_by:
            write_clustered(
                df, args.output, cluster_by=args.cluster_by.split(","),
                partition_by=part, num_files=args.files,
            )
        elif args.bloom_cols:
            write_bloom_indexed(
                df, args.output, bloom_cols=args.bloom_cols.split(","),
                partition_by=part,
            )
        elif not args.versioned:
            # plain consolidation: one file per target partition count
            n = args.files or spark.sparkContext.defaultParallelism
            df.coalesce(n).write.mode("overwrite").parquet(args.output)
        if args.versioned:
            from streaming_etl_pipeline_spark.sources.io import (
                read_versioned,
                versioned_write,
            )

            src_df = (
                spark.read.parquet(args.output)
                if (args.cluster_by or args.zorder_by or args.bloom_cols)
                else df
            )
            v = versioned_write(src_df, args.output + "_versioned")
            metrics["optimize.version"] = float(v)
            out = read_versioned(spark, args.output + "_versioned")
        else:
            out = spark.read.parquet(args.output)
        metrics["optimize.rows"] = out.count()
        if not args.versioned:
            metrics["optimize.files"] = float(
                len([f for f in __import__("glob").glob(
                    args.output + "/**/*.parquet", recursive=True)])
            )
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
