"""Structured Streaming ingest: raw JSON events → Bronze + dead-letter.

Re-expresses the reference's streaming consumer
(``src/consumers/spark_streaming.py:48-164``) Spark-first:

- S1 source: Kafka in production (``spark.readStream.format("kafka")``) or
  a file/rate source locally — everything downstream sees the same
  ``(raw_value string, source_timestamp timestamp)`` shape, so the source
  is swappable without touching the pipeline (no broker needed in CI);
- P8 parse: ``from_json`` with a declared schema (inference disabled),
  null struct → malformed;
- P5/S4 split: one parsed stream feeds both the Bronze projection and the
  dead-letter projection (error metadata + raw payload);
- T1 watermark (10 min), T2 processing-time trigger / availableNow for
  tests, T3 append mode, T4 per-sink checkpoints (the DLQ checkpoint gets
  the reference's ``_dead_letter`` suffix).

Scale: the parse/split is stateless and scales linearly with
partitions; the Bronze and dead-letter sinks keep only their file-sink
commit logs, and the Gold upsert (:func:`start_gold_upsert_sink`) keeps
aggregation state per ``(window_start, sensor_type)`` group, where the
reference computes Gold in batch (T7 hybrid, ``docs/INTERVIEW_PREP.md:29-31``).

The incremental stores below (ANN index, BM25 postings, n-gram
counts) are written one batch at a time by the CLI
(``build-bm25-index``, ``build-ngram-store``) and the soak scripts:
each per-batch writer takes a ``batch_id`` and a required
``run_token`` and replaces one ``<token>-<epoch>`` partition per store
with ``sources.io.write_epoch``, so re-running a batch rewrites its own
partition instead of appending a second copy. The dedup signature store
has the same layout and its writer lives in
``operators/dedup._probe_signature_store``. Optional store reads go
through ``sources.io.read_parquet_if_exists``, tombstones through
``sources.io._apply_tombstones``, and folding a store's epochs into one
partition through ``sources.io.fold_epochs``, so none of that is
repeated here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener

from streaming_etl_pipeline_spark.sources.io import (
    DOC_ID_COL,
    TEXT_COL,
    TOMBSTONE_DIR,
    VEC_COL,
    VEC_ID_COL,
    _apply_tombstones,
    epoch_value,
    fold_epochs,
    hadoop_fs,
    load_tombstones,
    path_exists,
    repair_store,
    write_epoch,
    write_partitioned,
)

#: Event schema — reference ``spark_streaming.py:26-33``.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType(), False),
        T.StructField("sensor_type", T.StringType(), False),
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("unit", T.StringType(), False),
        T.StructField("location", T.StringType(), True),
    ]
)

WATERMARK = "10 minutes"


def read_json_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1 (local flavor): file-based stream of JSON lines with the same
    downstream shape as the Kafka source."""
    reader = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
    )
    raw = reader.load(path)
    return raw.select(
        F.col("value").alias("raw_value"),
        F.current_timestamp().alias("source_timestamp"),
    )


#: Kafka wire schema (what ``format("kafka").load()`` yields) — used by
#: the projection below and by tests that exercise the Kafka branch's
#: downstream contract without a broker.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The reference's Kafka source options (``spark_streaming.py:79-87``)
    as a plain dict, so tests can pin them without a broker/connector and
    ops can override/extend before binding the reader."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def project_kafka(raw: DataFrame) -> DataFrame:
    """Kafka wire record → the pipeline's source shape
    ``(raw_value string, source_timestamp timestamp)``. Separated from
    the reader so the projection (and everything downstream of it) is
    exercised against :data:`KAFKA_WIRE_SCHEMA` in tests."""
    return raw.select(
        F.col("value").cast("string").alias("raw_value"),
        F.col("timestamp").alias("source_timestamp"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1 (production flavor) — Kafka source with the reference's options
    (``spark_streaming.py:79-87``). Requires the Kafka connector jars."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return project_kafka(reader.load())


def parse_events(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P8+P5 — parse and split one stream into (bronze, dead_letter).

    Bronze: flattened struct + ``event_time`` cast + ``ingestion_time`` +
    10-minute watermark (``spark_streaming.py:126-141``).
    Dead-letter: unparseable rows with error metadata
    (``spark_streaming.py:100-109``).
    """
    parsed = raw.withColumn("data", F.from_json(F.col("raw_value"), EVENT_SCHEMA))
    # from_json in PERMISSIVE mode yields an all-null struct (not a NULL
    # struct) for malformed input on recent Spark, so "unparseable" means
    # the struct is null OR every required field is null.
    malformed = F.col("data").isNull() | (
        F.col("data.sensor_id").isNull()
        & F.col("data.timestamp").isNull()
        & F.col("data.value").isNull()
    )

    bronze = (
        parsed.filter(~malformed)
        .select("data.*", "source_timestamp")
        .withColumn("event_time", F.col("timestamp").cast("timestamp"))
        .drop("timestamp")
        .withColumn("ingestion_time", F.current_timestamp())
        .withWatermark("event_time", WATERMARK)
    )
    dead_letter = parsed.filter(malformed).select(
        F.col("raw_value"),
        F.current_timestamp().alias("error_time"),
        F.lit("JSON_PARSE_ERROR").alias("error_type"),
    )
    return bronze, dead_letter


def start_bronze_sink(
    bronze: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """S3 — append-mode partitioned parquet sink with checkpoint
    (``spark_streaming.py:144-153``). ``trigger`` e.g.
    ``{"processingTime": "30 seconds"}`` or ``{"availableNow": True}``."""
    return _start(
        bronze.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .partitionBy("sensor_type"),
        checkpoint,
        trigger,
    )


def start_dead_letter_sink(
    dead_letter: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """S4 — dead-letter JSON sink; checkpoint suffixed ``_dead_letter``
    like the reference (``spark_streaming.py:112-121``)."""
    return _start(
        dead_letter.writeStream.format("json")
        .outputMode("append")
        .option("path", path),
        checkpoint + "_dead_letter",
        trigger,
    )


def _start(writer, checkpoint: str, trigger: dict | None) -> StreamingQuery:
    """Bind a sink's checkpoint and optional trigger, then start it."""
    writer = writer.option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


# ---------------------------------------------------------------------------
# Incremental stores: per-batch writers, deletes, compaction and health
# ---------------------------------------------------------------------------


def ann_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    centroids: DataFrame,
    codebooks: "list[list[list[float]]] | None" = None,
    *,
    run_token: str,
    use_arrow: bool = True,
) -> None:
    """Append one batch of embeddings to a stored IVF-PQ index: each
    vector is coarse-assigned against the TRAINED ``centroids`` and
    PQ-encoded against the TRAINED ``codebooks``, and the
    ``(id, centroid_id, codes)`` rows replace the batch's
    ``<run_token>-<batch_id>`` partition, the ``corpus_index=`` shape
    ``similarity.ivf_pq_topk`` consumes (read it back with
    :func:`load_ann_index`). Assign + encode are pure functions of the
    batch and the frozen quantizer state, so re-running a batch
    rewrites identical rows into its own partition."""
    from streaming_etl_pipeline_spark.operators import similarity as SIM

    if batch_df.isEmpty():
        return
    books = codebooks if codebooks is not None else SIM.PQ_CODEBOOKS
    index = _encode_index(
        batch_df, centroids, books, "vec_id", "embedding", use_arrow
    )
    write_epoch(index, index_path, epoch_value(batch_id, run_token))


def _encode_index(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: "list[list[list[float]]]",
    id_col: str,
    vec_col: str,
    use_arrow: bool,
) -> DataFrame:
    """Index rows ``(id, centroid_id, codes)`` of ``vectors``: IVF
    assignment against ``centroids`` plus PQ encoding against
    ``codebooks``, a pure 0-shuffle per-row map (``use_arrow``: Arrow
    GEMM per batch)."""
    from streaming_etl_pipeline_spark.operators import similarity as SIM

    if use_arrow:
        assigned = SIM.ivf_assign_arrow(
            vectors, centroids, id_col=id_col, vec_col=vec_col
        ).select(id_col, "centroid_id")
        codes = SIM.pq_encode_arrow(
            vectors, codebooks, id_col=id_col, vec_col=vec_col
        )
        return assigned.join(codes, id_col)
    return SIM.ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col
    ).select(
        id_col,
        "centroid_id",
        SIM.pq_encode(vec_col, codebooks).alias("codes"),
    )


def load_ann_index(spark: SparkSession, index_path: str) -> DataFrame:
    """Read an :func:`ann_index_batch` IVF-PQ index back in the
    ``(vec_id, centroid_id, codes)`` shape ``ivf_pq_topk`` expects as
    ``corpus_index=`` (the partition column is bookkeeping, dropped).
    Tombstoned ids (:func:`delete_ids`) are excluded — one broadcast
    anti-join against the id-list-sized sidecar."""
    idx = spark.read.parquet(index_path).drop("ingest_batch_id")
    return _apply_tombstones(spark, index_path, idx)


def _id_frame(
    spark: SparkSession, ids: "DataFrame | list", id_col: str
) -> DataFrame:
    """An id list as a one-column ``id_col`` frame (a DataFrame passes
    through): typed string when the first id is a string, long
    otherwise, matching the store's id column."""
    if isinstance(ids, DataFrame):
        return ids
    kind = "string" if ids and isinstance(ids[0], str) else "long"
    return spark.createDataFrame([(i,) for i in ids], f"{id_col} {kind}")


def delete_ids(
    spark: SparkSession,
    store_path: str,
    ids: "DataFrame | list",
    id_col: str,
) -> int:
    """Tombstone ids in a token-namespaced ingest store (ANN index,
    dedup signature store, BM25 postings — for BM25 use
    :func:`bm25_delete_ids`, which also decrements the corpus stats).
    The GDPR/takedown path: the store stays append-only (no partition
    rewrite — a replay of any old epoch still rewrites its partition
    byte-for-byte and does NOT resurrect deleted rows, because
    exclusion lives outside the epoch partitions), deletes take effect
    at read time via one broadcast anti-join against the
    ``_tombstones/`` sidecar (bounded — id-list-sized), and
    :func:`compact_ingest_store` / :func:`reencode_index` fold them
    away physically. Appends are idempotent only in effect (the read
    path distincts), so re-deleting an id is harmless.

    Caveat — a tombstoned id cannot be RE-ADDED until a compaction
    folds the tombstone away: the read-path anti-join is by id, so a
    later epoch that re-ingests the id is excluded too. Updates are
    therefore delete → compact → re-ingest (or re-ingest under a new
    id); the common takedown path never re-adds. Returns the number of
    ids appended."""
    frame = _id_frame(spark, ids, id_col).select(id_col).distinct()
    n = frame.count()
    frame.coalesce(1).write.mode("append").parquet(
        os.path.join(store_path, TOMBSTONE_DIR)
    )
    return int(n)


def bm25_delete_ids(
    spark: SparkSession,
    index_path: str,
    ids: "DataFrame | list",
    id_col: str = DOC_ID_COL,
) -> dict:
    """Delete documents from a stored BM25 index
    (:func:`bm25_postings_batch` / the CLI ``build-bm25-index``):
    tombstones the posting rows AND appends a NEGATIVE stats partition
    (−n_docs, −sum_len for the deleted docs), so the summed corpus
    statistics — idf's N and avg_len — net out at query time without
    rewriting any epoch. df needs no correction row: it is computed
    from the pruned posting read, which the tombstone anti-join has
    already filtered. Doc lengths come from the postings themselves
    (one id-list-broadcast-joined scan, at delete time — deletion is
    the rare path). Returns ``{"deleted", "len_sum"}``."""
    post_dir = os.path.join(index_path, "postings")
    id_list = _id_frame(spark, ids, id_col).select(id_col).distinct()
    # per-doc length: constant across a doc's posting rows
    doc_lens = (
        spark.read.parquet(post_dir)
        .join(F.broadcast(id_list), id_col)
        .select(id_col, "doc_len")
        .distinct()
    )
    dec = doc_lens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s")
    ).first()
    n_del, len_sum = int(dec["n"] or 0), int(dec["s"] or 0)
    if n_del:
        (
            spark.createDataFrame(
                [(-n_del, -len_sum, None)],
                "n_docs long, sum_len long, buckets int",
            )
            .withColumn("ingest_batch_id", F.lit("tombstone"))
            .write.mode("append")
            .partitionBy("ingest_batch_id")
            .parquet(os.path.join(index_path, "stats"))
        )
        delete_ids(spark, post_dir, id_list, id_col)
    return {"deleted": n_del, "len_sum": len_sum}


def compact_ingest_store(
    spark: SparkSession,
    path: str,
    secondary_partition_cols: "tuple[str, ...]" = (),
) -> dict:
    """Offline small-file compaction for the token-namespaced ingest
    stores (dedup signature store, ANN index, BM25 postings/stats,
    n-gram counts): every batch appends one
    ``ingest_batch_id=<token>-<epoch>`` partition, so a store fed in
    many small batches accumulates thousands of tiny
    partitions/files — the classic small-file problem that slows every
    downstream listing and scan. This folds ALL partitions into one
    (``compacted-<digest>``, digest of the folded partition values;
    a store that is already a single ``compacted-*`` partition is
    returned untouched, so re-compacting is a true no-op), preserving
    any secondary partition columns (the BM25 postings keep their
    ``term_bucket`` pruning layout).

    Contract: run with no writer active, and do not re-run a batch
    that was folded — it would re-append its partition beside the
    compacted rows (the idempotence key is gone).
    The rewritten store is swapped in by ``sources.io.fold_epochs`` (a
    ``replace_dir`` swap); a crash at any point leaves a state
    :func:`repair_store` (called first, here and standalone) rolls
    forward or back to a readable store. Returns
    ``{"partitions_before", "rows", "label"}``.
    """
    repair_store(spark, path)
    # fold deletions away physically: the rewrite drops tombstoned
    # rows and the sidecar is swapped out with the old directory
    df = _apply_tombstones(spark, path, spark.read.parquet(path))
    n_rows = df.count()
    # an already-folded store is left untouched unless deletions are
    # pending: re-compacting is a true no-op and keeps its label
    pending = path_exists(spark, os.path.join(path, TOMBSTONE_DIR))
    parts, label = fold_epochs(
        spark, path, df, *secondary_partition_cols, keep_folded=not pending
    )
    return {
        "partitions_before": len(parts),
        "rows": int(n_rows),
        "label": label,
    }


def store_health(
    spark: SparkSession,
    path: str,
    partition_col: str = "ingest_batch_id",
) -> dict:
    """Health snapshot of a token-namespaced ingest store for the
    metrics exporter (``quality.exporter.record_store_health``):
    batch-partition count (the small-file/compaction signal), data
    file count, live row count (parquet footer metadata — no data
    scan), and pending tombstones. Costs one directory listing plus a
    metadata-only count; safe to run per scrape interval."""
    df = spark.read.parquet(path)
    parts = (
        df.select(partition_col).distinct().count()
        if partition_col in df.columns
        else 1
    )
    fs, jpath = hadoop_fs(spark, path)
    n_files = 0
    base = jpath.toUri().getPath()
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        rel = f.getPath().toUri().getPath()[len(base):]
        # skip hidden/metadata trees (_tombstones, _SUCCESS, .crc …)
        if not any(
            seg.startswith(("_", ".")) for seg in rel.split("/") if seg
        ):
            n_files += 1
    tomb = load_tombstones(spark, path)
    n_tomb = tomb.count() if tomb is not None else 0
    rows = _apply_tombstones(spark, path, df).count() if n_tomb else df.count()
    return {
        "partitions": int(parts),
        "files": int(n_files),
        "rows": int(rows),
        "tombstones": int(n_tomb),
    }


def reencode_index(
    spark: SparkSession,
    index_path: str,
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: "list[list[list[float]]]",
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
) -> dict:
    """Migrate an :func:`ann_index_batch` index onto RETRAINED quantizer
    state: the stored index's ids are joined back to their fresh
    vectors, assigned + PQ-encoded against the NEW centroids/codebooks
    (the same pure 0-shuffle map as :func:`ann_index_batch` — one
    distributed pass over the index's ids, cost ∝ index size), and the
    rewritten store is swapped in by ``sources.io.fold_epochs`` (crash
    states recover via :func:`repair_store`, called first).

    This is the *react* half of the drift loop —
    :func:`similarity.ivf_occupancy_drift` detects,
    :func:`similarity.retrain_quantizer` produces the new state, this
    migrates the store. Contract: run with no writer active, then pass
    the new ``centroids=``/``codebooks=`` to later
    :func:`ann_index_batch` calls under a FRESH ``run_token`` — the
    migrated store folds all epochs into one ``reencoded`` partition, so
    the old run's idempotence keys are gone and a re-run would
    re-append.

    ``vectors`` must carry the current embedding for every live id
    (PQ codes are lossy — re-encoding a reconstruction would compound
    quantization error, so ids missing from ``vectors`` are DROPPED
    and surfaced in the returned ``missing_vectors`` count; route
    takedowns through this path deliberately).

    Returns ``{"rows", "missing_vectors", "label"}``."""
    repair_store(spark, index_path)
    ids = _apply_tombstones(
        spark, index_path, spark.read.parquet(index_path).select(id_col)
    ).distinct()  # deletions fold away physically with the rewrite
    n_ids = ids.count()
    live = vectors.join(ids, id_col).localCheckpoint(eager=True)
    n_live = live.count()
    fold_epochs(
        spark,
        index_path,
        _encode_index(live, centroids, codebooks, id_col, vec_col, True),
        label="reencoded",
    )
    return {
        "rows": int(n_live),
        "missing_vectors": int(n_ids - n_live),
        "label": "reencoded",
    }


def maybe_retrain_ann_index(
    spark: SparkSession,
    index_path: str,
    recent_vectors: DataFrame,
    corpus_vectors: DataFrame,
    centroids: DataFrame,
    codebooks_shape: "tuple[int, int] | None" = None,
    psi_threshold: float = 0.25,
    sample_fraction: float | None = None,
    iters: int = 5,
    id_col: str = VEC_ID_COL,
    vec_col: str = VEC_COL,
) -> dict:
    """The closed drift loop in one call: monitor → (if fired) retrain →
    migrate. Assigns ``recent_vectors`` against the CURRENT centroids,
    computes occupancy PSI vs the stored index
    (:func:`similarity.ivf_occupancy_drift`), and when
    ``psi >= psi_threshold`` (0.25 = the standard "retrain" band)
    retrains the quantizer on ``corpus_vectors`` (optionally sampled)
    and re-encodes/swaps the store via :func:`reencode_index`.

    Monitor cost: one pure-map assignment over ``recent_vectors`` plus
    two per-cell counts (the stored index is read as assignments — no
    vector math on the corpus). Returns ``{"psi", "fired", "centroids",
    "codebooks", "reencode"}`` — ``centroids``/``codebooks`` are the
    NEW state when fired (encode later batches with them) else the
    inputs unchanged. Call with no writer active; see
    :func:`reencode_index` for the contract."""
    from streaming_etl_pipeline_spark.operators import similarity as SIM

    n_cells = int(centroids.count())  # bounded: quantizer size
    cur = SIM.ivf_assign_arrow(
        recent_vectors, centroids, id_col=id_col, vec_col=vec_col
    ).select("centroid_id")
    ref = load_ann_index(spark, index_path).select("centroid_id")
    psi = float(
        SIM.ivf_occupancy_drift(ref, cur, n_cells)
        .agg(F.max("psi"))
        .first()[0]
    )
    out = {
        "psi": psi,
        "fired": psi >= psi_threshold,
        "centroids": centroids,
        "codebooks": None,
        "reencode": None,
    }
    if not out["fired"]:
        return out
    shape = codebooks_shape if codebooks_shape is not None else (
        SIM.PQ_M, SIM.PQ_K
    )
    new_cents, new_books = SIM.retrain_quantizer(
        corpus_vectors,
        n_cells=n_cells,
        codebooks_shape=shape,
        iters=iters,
        sample_fraction=sample_fraction,
        id_col=id_col,
        vec_col=vec_col,
    )
    out["centroids"] = new_cents
    out["codebooks"] = new_books
    out["reencode"] = reencode_index(
        spark,
        index_path,
        corpus_vectors,
        new_cents,
        new_books,
        id_col=id_col,
        vec_col=vec_col,
    )
    return out


def bm25_postings_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    buckets: int | None = None,
    id_col: str = DOC_ID_COL,
    text_col: str = TEXT_COL,
    *,
    run_token: str,
) -> None:
    """Append one batch of documents to a stored BM25 index: the
    batch's (doc, term) postings, partitioned by ``term_bucket`` for
    query-time pruning, plus one (n_docs, sum_len, buckets) stats row,
    both under the ``<run_token>-<batch_id>`` partition.
    ``retrieval.bm25_topk_from_store`` sums the stats partitions and
    computes df from the pruned posting read, so corpus statistics stay
    consistent as batches append. Replacing the batch's partition
    replaces BOTH levels under it, so a re-run cannot leave orphan
    buckets behind. Precondition: doc ids unique across batches — a
    re-sent doc id would double-count in df/tf."""
    from streaming_etl_pipeline_spark.functions.core import tokenize
    from streaming_etl_pipeline_spark.operators import retrieval as RT
    from streaming_etl_pipeline_spark.operators.text import norm_text

    if batch_df.isEmpty():
        return
    b = buckets if buckets is not None else RT.BM25_STORE_BUCKETS
    part_val = epoch_value(batch_id, run_token)
    # tokenize once: the materialized token arrays feed both writes, so
    # a replayed source cannot hand the postings and stats different docs
    toks = batch_df.select(
        F.col(id_col), tokenize(norm_text(text_col)).alias("toks")
    ).localCheckpoint(eager=True)
    postings = (
        toks.select(
            id_col, F.explode("toks").alias("term"),
            F.size("toks").alias("doc_len"),
        )
        .groupBy(id_col, "term", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", RT._term_bucket(F.col("term"), b))
    )
    write_epoch(
        postings, os.path.join(index_path, "postings"), part_val, "term_bucket"
    )
    stats = toks.select(F.size("toks").alias("dl")).filter("dl > 0").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_len"),
        F.lit(b).alias("buckets"),
    )
    write_epoch(stats, os.path.join(index_path, "stats"), part_val)


def _ngram_type_counts(
    docs: DataFrame, id_col: str, text_col: str, order: int
) -> DataFrame:
    """Batch-local n-gram TYPE counts in the store layout for ``order``
    (trigram keeps the frozen ``(u, v, w, c3)`` schema)."""
    from streaming_etl_pipeline_spark.operators import ngram_lm as NL

    if order == 3:
        return (
            NL.doc_trigrams(docs, id_col, text_col)
            .groupBy("u", "v", "w")
            .agg(F.sum("c").alias("c3"))
        )
    wcols = [f"w{i}" for i in range(1, order + 1)]
    return (
        NL.doc_ngrams(docs, order, id_col, text_col)
        .groupBy(*wcols)
        .agg(F.sum("c").alias("c"))
    )


def ngram_counts_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    id_col: str = DOC_ID_COL,
    text_col: str = TEXT_COL,
    *,
    run_token: str,
    order: int = 3,
) -> None:
    """Append one batch of documents to an n-gram count store for the
    Kneser-Ney LM (``operators/ngram_lm.py``): the batch's padded n-gram
    TYPE counts replace its ``<run_token>-<batch_id>`` partition, so a
    re-run rewrites instead of double-counting. ``order=3`` keeps the
    trigram layout ``(u, v, w, c3)``; other orders store
    ``(w1..wN, c)``. A store holds ONE order — mixing orders raises in
    :func:`kn_lm_fit_from_store`. Precondition: doc ids unique across
    batches."""
    if batch_df.isEmpty():
        return
    batch_df = batch_df.localCheckpoint(eager=True)
    write_epoch(
        _ngram_type_counts(batch_df, id_col, text_col, order),
        os.path.join(store_path, "counts"),
        epoch_value(batch_id, run_token),
    )


def kn_lm_fit_from_store(
    spark: SparkSession,
    store_path: str,
    order: int = 3,
    min_count=1,
):
    """Rebuild the KN model from a :func:`ngram_counts_batch` store:
    sum the per-epoch partitions to exact type counts, then derive
    probabilities with the same code as the batch fit — bit-identical
    to refitting over the union corpus because counts are additive.
    One store scan (the aggregated type frame is persisted before the
    negatives check, so the check and the model derivation share it),
    everything after at type grain.
    ``order=3`` returns the trigram :class:`~..operators.ngram_lm
    .KNModel`; other orders return the pruned order-n
    :class:`~..operators.ngram_lm.KNModelN` (``min_count=`` forwards
    the KenLM-style prune thresholds)."""
    from pyspark import StorageLevel

    from streaming_etl_pipeline_spark.operators import ngram_lm as NL

    cnt_col = "c3" if order == 3 else "c"
    keys = ["u", "v", "w"] if order == 3 else [
        f"w{i}" for i in range(1, order + 1)
    ]
    raw = spark.read.parquet(os.path.join(store_path, "counts"))
    missing = [k for k in keys if k not in raw.columns]
    if missing or cnt_col not in raw.columns:
        raise ValueError(
            f"store at {store_path} does not hold order-{order} counts "
            f"(columns {raw.columns})"
        )
    # Reject a HIGHER-order store too (ADVICE r9): order=4 against an
    # order-5 store has w1..w4 present, so the key check alone would let
    # groupBy(w1..w4).sum(c) silently fold 5-gram type counts into a
    # wrong prefix-count model. Any n-gram key column beyond this order
    # (w{order+1}, or any w\d at all for the u/v/w trigram layout) means
    # the store was written at a different order — mixing orders raises.
    import re as _re

    ngram_cols = {c for c in raw.columns if _re.fullmatch(r"w\d+", c)}
    extra = (
        ngram_cols if order == 3
        else {c for c in ngram_cols if int(c[1:]) > order}
    )
    if extra:
        raise ValueError(
            f"store at {store_path} holds higher-order counts (columns "
            f"{sorted(extra)} beyond order {order}); summing them away "
            f"would NOT give order-{order} type counts — refit the "
            "store at the requested order instead"
        )
    tt = (
        raw.groupBy(*keys)
        .agg(F.sum(cnt_col).alias(cnt_col))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # single pass: one bounded collect both detects and samples negatives
    bad = tt.filter(F.col(cnt_col) < 0).limit(3).collect()
    if bad:
        raise ValueError(
            "n-gram store has types with negative net counts (a partition "
            f"not written by ngram_counts_batch), e.g. {bad}"
        )
    tt = tt.filter(F.col(cnt_col) > 0)
    prune = NL._norm_prune(order, min_count) if order != 3 else (
        {3: int(min_count)} if not isinstance(min_count, dict) else min_count
    )
    if order == 3 and all(m <= 1 for m in prune.values()):
        return NL.kn_model_from_counts(tt)
    if order == 3:
        # pruned trigram: served by the order-n module (count column
        # renamed to its (w1..wn, c) convention)
        tt = tt.select(
            F.col("u").alias("w1"), F.col("v").alias("w2"),
            F.col("w").alias("w3"), F.col("c3").alias("c"),
        )
    return NL.kn_model_from_counts_n(tt, order, min_count=min_count)


def start_gold_upsert_sink(
    bronze: DataFrame,
    path: str,
    checkpoint: str,
    bucket_seconds: int = 300,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming Gold: watermarked windowed aggregation, upserted by
    window partition.

    The reference batch-recomputes Gold (T7 hybrid); this is the additive
    streaming variant: an UPDATE-mode windowed agg emits each window's
    refreshed totals as late rows arrive, and ``foreachBatch`` replaces
    exactly the touched partitions (``write_partitioned``) — the
    same delete-by-window idempotency as the warehouse loader (S8,
    ``redshift_loader.py:33-55``), so replays after a restart rewrite
    partitions instead of duplicating rows. The watermark does not bound
    the state: ``window_start`` is computed from the event time, which
    drops its watermark, so Spark evicts no window and the state keeps
    one row per group ever seen.

    The sink partitions by ``(window_start, sensor_type)``, not
    ``window_start`` alone: update mode delivers only the *groups*
    refreshed in a trigger, so overwriting whole ``window_start``
    partitions would silently drop the window's untouched sibling
    groups. Partitioning down to the group key makes the partition-
    replace granularity match the update-mode emission granularity
    exactly.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        write_partitioned(batch_df, path, ["window_start", "sensor_type"])

    agg = _gold_windows(
        bronze, bucket_seconds, ("sensor_type",), "value", "event_time"
    )
    return _start(
        agg.writeStream.outputMode("update").foreachBatch(upsert),
        checkpoint,
        trigger,
    )


def _gold_windows(
    bronze: DataFrame,
    bucket_seconds: int,
    keys: tuple[str, ...],
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """The streaming Gold aggregate the Gold upsert sink emits in update mode:
    per ``(window_start, *keys)`` avg/min/max/count of ``value_col``."""
    from streaming_etl_pipeline_spark.functions.core import time_bucket

    return (
        bronze.withColumn("window_start", time_bucket(ts_col, bucket_seconds))
        .groupBy("window_start", *keys)
        .agg(
            F.avg(value_col).alias("avg_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.count(value_col).alias("reading_count"),
        )
    )


class MetricsListener(StreamingQueryListener):
    """T6 (listener flavor) — push-based stream metrics.

    The reference polls ``query.lastProgress`` in a driver loop
    (``spark_streaming.py:167-184,244-246``); a listener receives every
    progress event instead (no polling gap, no missed batches) and is
    the natural adapter to a metrics registry (the reference exports
    Prometheus counters from its producer, ``sensor_simulator.py:38-48``).
    Events accumulate in ``self.progress`` as plain dicts:
    batchId / numInputRows / inputRowsPerSecond /
    processedRowsPerSecond / durationMs.
    """

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "id": str(p.id),
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "durationMs": dict(p.durationMs or {}),
            }
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))
