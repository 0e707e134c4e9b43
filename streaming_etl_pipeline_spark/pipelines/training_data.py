"""End-to-end training-corpus curation pipeline: the LLM-domain analogue
of the reference's medallion batch flow (``bronze_to_silver`` /
``silver_to_gold``), composed entirely from the operator library.

    raw documents
      → quality filter (Gopher rules)            operators/text.py
      → exact dedup (md5 keep-first)             operators/dedup.py
      → LM typicality tail cut (optional)        operators/text.py charlm
      → near dedup (MinHash→LSH→components)      dedup.py + components.py
      → duplicated-span cap (optional)           dedup.py substring_dup_stats
      → benchmark decontamination (optional)     operators/curation.py
      → PII redaction (carried text)             operators/curation.py
      → train/val/test split                     operators/curation.py
      → context-window chunking                  operators/curation.py
      → parquet partitioned by split

Like the medallion pipelines, audit counts ride as **observed metrics**
on the single write action wherever the plan allows; only the near-dup
stage (iterative components) and the survivor anti-joins force their own
jobs — that is inherent to dedup, not an implementation artifact.

Scale shape (100 TB): every per-row stage (filter/redact/split/chunk)
pipelines into one scan; dedup cost is the signature pass (linear,
0-shuffle) + LSH band join on md5-uniform keys; decontamination is a
broadcast semi-probe. The final write shuffles once on `split` — three
output directories, each internally splittable by
``maxRecordsPerFile``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.operators import curation as CU
from streaming_etl_pipeline_spark.operators import dedup as DD
from streaming_etl_pipeline_spark.operators import text as TX
from streaming_etl_pipeline_spark.operators.components import dedup_clusters
from streaming_etl_pipeline_spark.pipelines.medallion import PipelineResult
from streaming_etl_pipeline_spark.sources.io import DOC_ID_COL, TEXT_COL


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    benchmark: DataFrame | None = None,
    id_col: str = DOC_ID_COL,
    text_col: str = TEXT_COL,
    max_tokens: int = 32,
    overlap: int = 8,
    lsh_threshold: float = 0.6,
    contamination_threshold: float = 0.10,
    split_safety_threshold: float | None = None,
    charlm_drop_frac: float | None = None,
    lm_gate: str = "charlm",
    substring_dup_max: float | None = None,
    cc_algorithm: str = "label_prop",
    dsir_target: DataFrame | None = None,
    dsir_keep_frac: float | None = None,
    nb_labeled: DataFrame | None = None,
    nb_keep_threshold: float = 0.0,
    url_col: str | None = None,
    domain_blocklist: DataFrame | None = None,
    domain_cap_n: int | None = None,
    shard_output: int | None = None,
    extract_html: bool = False,
) -> PipelineResult:
    """Run the full curation flow and write chunked training examples to
    ``out_path`` partitioned by ``split``. Returns per-stage audit
    metrics (documents surviving each gate, chunks written).

    ``docs`` needs (id_col, text_col); ``benchmark`` (optional) needs
    ``text_col`` and enables the decontamination gate.

    ``split_safety_threshold`` (optional, looser than ``lsh_threshold``)
    guards the split against residual near-dup leakage: documents that
    were too dissimilar to DEDUP (below ``lsh_threshold``) but similar
    enough to leak eval signal (above this) are clustered at the looser
    threshold and split by CLUSTER id (``curation.cluster_safe_splits``)
    so they land in the same train/val/test partition. Reuses the
    signatures already built for dedup — no extra shingle/minhash pass.

    ``charlm_drop_frac`` (optional) enables the CCNet-style LM gate:
    a language model is trained on the post-exact-dedup survivors and
    the least-typical fraction of documents (bottom score quantile —
    mojibake, binary spill, codes) is dropped. The quantile cut is one
    ``approxQuantile`` sketch probe, not a collect. ``lm_gate`` picks
    the scorer: ``"charlm"`` (char-trigram typicality, ``avg_tri_p`` —
    zero-vocabulary, catches encoding junk) or ``"kn"`` (word-level
    interpolated Kneser-Ney trigram log-prob, ``avg_logp`` —
    ``operators/ngram_lm.py``, CCNet's actual perplexity filter,
    sharper on fluency/boilerplate). Both train on the survivors, so
    the gate needs no external model.

    ``substring_dup_max`` (optional) caps cross-document duplicated
    spans: documents whose 64-char chunk-fingerprint ``dup_frac``
    exceeds the threshold (templated/boilerplate-heavy docs that
    survived whole-document near-dedup) are dropped.

    ``dsir_target`` + ``dsir_keep_frac`` (optional) enable the DSIR
    relevance gate (``sampling.dsir_log_weights``): documents are scored
    by how much their hashed uni+bigram profile matches the target
    corpus, and the top ``dsir_keep_frac`` fraction survives (quantile
    cut via one ``approxQuantile`` sketch probe, like the charlm gate).
    Documents with zero grams (empty/whitespace text) carry no weight
    row and are dropped by this gate — they are junk by definition.

    ``nb_labeled`` (optional) enables the model-based quality gate
    (``classifier.nb_quality_scores`` — the fastText stage of
    LLaMA/RefinedWeb/DCLM): rows ``(id_col, label boolean)`` of weak
    supervision (e.g. "looks like the reference corpus" positives vs
    sampled-raw negatives) train a hashed-n-gram NB model in one
    aggregation; survivors with ``nb_score > nb_keep_threshold``
    (default 0 = the model's own decision boundary) are kept. Labels
    referencing already-dropped docs are ignored (the train join is on
    the survivor set); docs with zero grams carry no score row and are
    dropped, like the DSIR gate.

    ``url_col`` (optional) enables the URL pre-gate — the stage crawl
    pipelines (C4/RefinedWeb/FineWeb) run BEFORE any text processing,
    because it is the cheapest cut: ``domain_blocklist`` (a 1-column
    ``domain`` frame, broadcast anti-join on the registrable domain)
    drops disallowed hosts, and ``domain_cap_n`` keeps at most N docs
    per registrable domain (quality proxy = text length, skew-sharded
    window) so no single host dominates the mixture.

    ``extract_html=True`` runs markup→text extraction
    (``text.strip_html``) immediately after the URL gate, so raw-crawl
    HTML never reaches the quality heuristics or dedup keys — the WET
    stage of a web pipeline, 0-shuffle.

    ``shard_output=N`` (optional) writes the examples as N
    content-deterministic training shards with a ``_manifest.json``
    integrity record (``sources.io.write_training_shards``; sharded by
    ``id_col`` so a document's chunks stay co-sharded) instead of the
    default split-partitioned parquet — ``split`` stays as a column.

    ``cc_algorithm`` selects how near-dup pairs are canonicalized:
    ``"label_prop"`` (default, O(diameter) rounds — right for clique-ish
    LSH graphs, raises rather than mislabel if the graph turns out
    chain-shaped) or ``"star"`` (large-star/small-star contraction,
    O(log n) rounds, for chain-heavy crawl corpora).
    """
    from pyspark import StorageLevel

    if (dsir_target is None) != (dsir_keep_frac is None):
        raise ValueError(
            "dsir_target and dsir_keep_frac must be given together — "
            "supplying only one would silently skip the DSIR gate"
        )

    if (domain_blocklist is not None or domain_cap_n is not None) and (
        url_col is None
    ):
        raise ValueError(
            "domain_blocklist / domain_cap_n require url_col — without a "
            "URL there is no domain to gate on"
        )

    metrics: dict[str, float] = {"input_docs": float(docs.count())}

    # 0. URL pre-gate (optional) — registrable-domain blocklist + cap,
    #    run before any text stage: a 0-shuffle domain derivation, one
    #    broadcast anti-join, and (cap only) one skew-sharded window.
    if url_col is not None:
        from streaming_etl_pipeline_spark.operators import webcur as WC

        with_domain = docs.withColumn(
            "_domain", WC.registrable_domain(WC.url_host(F.col(url_col)))
        )
        if domain_blocklist is not None:
            with_domain = WC.blocklist_filter(
                with_domain, domain_blocklist, domain_col="_domain"
            )
        if domain_cap_n:
            # Malformed / scheme-less URLs derive an empty host (and a
            # NULL url derives a NULL domain), so they would all collapse
            # into ONE '' / NULL pseudo-domain and the cap would silently
            # drop most of them. Route them past the cap (they are not a
            # real domain) and surface the count.
            is_malformed = F.col("_domain").isNull() | (F.col("_domain") == "")
            malformed = with_domain.filter(is_malformed)
            metrics["url_gate_malformed"] = float(malformed.count())
            with_domain = (
                WC.domain_cap(
                    with_domain.filter(~is_malformed).withColumn(
                        "_q", F.length(text_col)
                    ),
                    cap=domain_cap_n,
                    domain_col="_domain",
                    order_col="_q",
                    id_col=id_col,
                    skew=8,
                )
                .filter("kept")
                .drop("domain_rank", "kept", "_q")
                .unionByName(malformed)
            )
        docs = with_domain.drop("_domain")
        metrics["after_url_gate"] = float(docs.count())

    # 0b. HTML extraction (optional) — markup→text BEFORE any quality
    #     stage so tag/entity noise never reaches the Gopher heuristics
    #     or dedup keys. A 0-shuffle per-row projection (text.strip_html)
    #     that rewrites text_col in place; raw markup is not carried
    #     forward (re-read the bronze store for provenance).
    if extract_html:
        docs = docs.withColumn(text_col, TX.strip_html(text_col))
        metrics["after_html_extract"] = float(
            docs.filter(F.length(text_col) > 0).count()
        )

    # 1. Quality gate — per-row flags carried inline (keep_cols), so the
    #    gate is a filter, not a join.
    kept = (
        TX.gopher_filter(docs, text_col, keep_cols=True)
        .filter("keep")
        .select(id_col, text_col)
    )
    metrics["after_quality"] = float(kept.count())

    # 2. Exact dedup — one hash shuffle; keep the min-id doc per content
    #    group (exact_dedup_groups already computes the keeper). The
    #    result feeds three consumers (signature build, the near-dup
    #    anti join, the audit count) — persist so the scan + quality +
    #    dedup chain runs once, not per consumer.
    keepers = DD.exact_dedup_groups(kept, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    kept = kept.join(keepers, id_col, "left_semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    metrics["after_exact_dedup"] = float(kept.count())

    # 2b. LM typicality tail cut (optional) — train on the survivors,
    #     drop the bottom quantile. Trained AFTER exact dedup so mass
    #     duplication can't drag the model toward its own boilerplate.
    if charlm_drop_frac is not None and charlm_drop_frac > 0:
        if lm_gate == "kn":
            from streaming_etl_pipeline_spark.operators import ngram_lm as NL

            scores = NL.kn_lm_scores(kept, id_col, text_col)
            score_col, metric_key = "avg_logp", "after_kn_lm"
        elif lm_gate == "charlm":
            scores = TX.charlm_scores(kept, id_col, text_col)
            score_col, metric_key = "avg_tri_p", "after_charlm"
        else:
            raise ValueError(
                f"lm_gate must be 'charlm' or 'kn', got {lm_gate!r}"
            )
        q = scores.approxQuantile(score_col, [charlm_drop_frac], 0.001)
        if q:  # no scored docs (empty survivors) → nothing to cut
            low = scores.filter(F.col(score_col) < q[0]).select(id_col)
            gated = kept.join(low, id_col, "left_anti").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            metrics[metric_key] = float(gated.count())
            kept.unpersist()
            kept = gated

    # 2c. DSIR relevance gate (optional) — keep the fraction of docs
    #     whose hashed-n-gram profile best matches the target corpus.
    #     Runs AFTER exact dedup so mass duplication can't tilt the raw
    #     distribution q̂ toward its own boilerplate.
    if dsir_target is not None and dsir_keep_frac is not None:
        from streaming_etl_pipeline_spark.operators.sampling import (
            dsir_log_weights,
        )

        weights = dsir_log_weights(
            kept, dsir_target, text_col=text_col, id_col=id_col
        )
        q = weights.approxQuantile(
            "log_weight", [1.0 - dsir_keep_frac], 0.001
        )
        if not q:
            # every surviving doc produced zero n-grams (e.g. a
            # whitespace-only corpus) — there is no distribution to
            # gate on; fail loudly rather than keep-all or keep-none.
            raise ValueError(
                "DSIR gate: no surviving document produced any n-gram, "
                "so no keep threshold exists — check the text column "
                "and upstream filters, or drop the DSIR flags"
            )
        cut = q[0]
        sel = weights.filter(F.col("log_weight") >= cut).select(id_col)
        gated = kept.join(sel, id_col, "left_semi").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        metrics["after_dsir"] = float(gated.count())
        kept.unpersist()
        kept = gated

    # 2d. Model-based quality gate (optional) — NB scores from weak
    #     labels; one training aggregation + one scoring scan, model
    #     broadcast. Runs AFTER exact dedup for the same reason as the
    #     charlm/DSIR gates: duplicated boilerplate must not tilt the
    #     class-conditional gram distributions.
    if nb_labeled is not None:
        from streaming_etl_pipeline_spark.operators.classifier import (
            nb_quality_scores,
        )

        scores = nb_quality_scores(
            kept, nb_labeled, text_col=text_col, id_col=id_col
        )
        sel = scores.filter(
            F.col("nb_score") > nb_keep_threshold
        ).select(id_col)
        gated = kept.join(sel, id_col, "left_semi").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        metrics["after_nb"] = float(gated.count())
        kept.unpersist()
        kept = gated

    # 3. Near dedup — signatures (linear) → LSH band join → verified
    #    pairs → connected components → drop non-canonical members.
    sigs = DD.build_signatures(kept, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = DD.near_dup_pairs_from_signatures(
        sigs, id_col=id_col, threshold=lsh_threshold
    )
    clusters = dedup_clusters(pairs, algorithm=cc_algorithm)
    losers = clusters.filter(F.col(id_col) != F.col("canonical_id")).select(id_col)
    survivors = kept.join(losers, id_col, "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Materialize the new cache BEFORE dropping the old one: unpersisting
    # first makes this count (and every later action) recompute the whole
    # upstream chain — measured 7× pipeline wall with the optional gates
    # in the lineage.
    metrics["after_near_dedup"] = float(survivors.count())
    kept.unpersist()
    kept = survivors

    # 3b. Duplicated-span cap (optional) — catches templated docs whose
    #     *partial* overlap was below the whole-document LSH threshold.
    if substring_dup_max is not None:
        heavy = (
            DD.substring_dup_stats(kept, id_col, text_col)
            .filter(F.col("dup_frac") > substring_dup_max)
            .select(id_col)
        )
        capped = kept.join(heavy, id_col, "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        metrics["after_substring_cap"] = float(capped.count())
        kept.unpersist()
        kept = capped

    # 4. Decontamination — broadcast benchmark shingle probe. `cached`
    #    tracks the persisted stage output so the final unpersist hits
    #    the actual cache (kept itself may be a cheap filter on top).
    cached = kept
    if benchmark is not None:
        flagged = (
            CU.contamination_stats(
                kept,
                benchmark,
                flag_threshold=contamination_threshold,
                id_col=id_col,
                text_col=text_col,
            )
            .filter("flagged")
            .select(id_col)
        )
        kept = kept.join(flagged, id_col, "left_anti")
        metrics["after_decontamination"] = float(kept.count())

    # 5-7. Redact → split → chunk: one fused projection pass, audited by
    #      observed metrics on the write action (no extra jobs).
    redacted = kept.select(
        id_col, CU.redacted_text(text_col).alias(text_col)
    )
    chunks = CU.context_chunks(
        redacted,
        max_tokens=max_tokens,
        overlap=overlap,
        id_col=id_col,
        text_col=text_col,
        keep_text=True,
    )
    if split_safety_threshold is not None:
        # cluster the SURVIVORS at the looser threshold (signatures are
        # threshold-independent — reuse them) and split by cluster id
        loose_pairs = DD.near_dup_pairs_from_signatures(
            sigs.join(kept.select(id_col), id_col, "left_semi"),
            id_col=id_col,
            threshold=split_safety_threshold,
        )
        loose_clusters = dedup_clusters(
            loose_pairs, algorithm=cc_algorithm
        ).select(
            F.col("doc_id").alias(id_col), "canonical_id"
        )
        examples = CU.cluster_safe_splits(
            chunks, loose_clusters, key_col=id_col
        ).drop("_split_key")
    else:
        examples = CU.assign_splits(chunks, id_col)

    obs = Observation("training_out")
    examples = examples.observe(
        obs,
        F.count(F.lit(1)).alias("chunks_written"),
        # DISTINCT aggregates aren't allowed in observed metrics; every
        # doc emits exactly one chunk_id=0 row, so count those instead.
        F.sum((F.col("chunk_id") == 0).cast("long")).alias("final_docs"),
        F.sum("n_tokens").alias("tokens_written"),
    )
    if shard_output:
        from streaming_etl_pipeline_spark.sources.io import (
            write_training_shards,
        )

        manifest = write_training_shards(
            examples, out_path, n_shards=shard_output, id_col=id_col
        )
        metrics["shards_written"] = float(len(manifest["shards"]))
    else:
        examples.write.mode("overwrite").partitionBy("split").parquet(
            out_path
        )
    cached.unpersist()
    sigs.unpersist()
    # sum() observes as None over an empty write (every doc filtered)
    metrics.update({k: float(v or 0) for k, v in obs.get.items()})
    return PipelineResult(output_paths={"training": out_path}, metrics=metrics)
