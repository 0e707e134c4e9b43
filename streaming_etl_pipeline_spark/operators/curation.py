"""Training-set assembly operators: context-window chunking, deterministic
split assignment, PII redaction, and benchmark decontamination.

The last mile of a 100 TB corpus pipeline (SURVEY.md §2.12): after dedup
and quality filtering, documents must be (1) chunked to the model's
context window, (2) assigned to train/val/test reproducibly, (3) scrubbed
of personal identifiers, and (4) checked for eval-benchmark contamination.
All four are built-in-function compositions (no UDFs, §2.10) with exact
DuckDB twins, and none carries state:

- chunking / split / redaction are per-row projections — 0 shuffles,
  linear in input splits;
- decontamination is an inverted-index semi-join on uniform shingle
  hashes — the same scale shape as exact n-gram Jaccard
  (operators/dedup.py), with the benchmark side dimension-sized and
  broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.functions.core import md5_long, md5_long_sql, tokenize
from streaming_etl_pipeline_spark.operators.dedup import shingles, shingles_sql
from streaming_etl_pipeline_spark.operators.text import norm_text, norm_text_sql
from streaming_etl_pipeline_spark.sources.io import (
    DOC_ID_COL,
    DOCS_TABLE,
    SOURCE_COL,
    TEXT_COL,
)

#: Train/val fractions and hash seed of the split assignment, and the
#: token-count column :func:`pack_sequences` reads.
SPLIT_TRAIN = 0.9
SPLIT_VAL = 0.05
SPLIT_SEED = "split"
TOKENS_COL = "n_tokens"

# ---------------------------------------------------------------------------
# Context-window chunking (overlapping token windows)
# ---------------------------------------------------------------------------


def context_chunks(
    df: DataFrame,
    max_tokens: int = 32,
    overlap: int = 8,
    id_col: str = DOC_ID_COL,
    text_col: str = TEXT_COL,
    keep_text: bool = False,
) -> DataFrame:
    """Explode each document into overlapping context windows of at most
    ``max_tokens`` whitespace tokens with ``overlap`` tokens carried over
    between consecutive chunks — the standard packing step before
    tokenizer + example assembly.

    Window starts advance by ``stride = max_tokens - overlap``; the last
    window starts at the greatest multiple of stride < n, so every token
    lands in ≥1 chunk and no empty trailing window is emitted. Output:
    ``(doc_id, chunk_id, n_tokens, chunk_md5)`` — the chunk text is
    hashed, not carried, so the result stays canonicalizable while still
    pinning content byte-for-byte (``keep_text=True`` adds the
    ``chunk_text`` column for pipelines that write training examples).

    Pure projection + explode: 0 shuffles at any scale.
    """
    stride = max_tokens - overlap
    assert stride > 0, "overlap must be < max_tokens"
    toks = tokenize(norm_text(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(F.lit(1), F.ceil((n - overlap) / stride).cast("int"))
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, max_tokens),
    )
    out = df.select(
        id_col,
        F.posexplode(windows).alias("chunk_id", "_w"),
    )
    cols = [
        F.col(id_col),
        F.col("chunk_id"),
        F.size("_w").alias("n_tokens"),
        F.md5(F.array_join("_w", " ")).alias("chunk_md5"),
    ]
    if keep_text:
        cols.append(F.array_join("_w", " ").alias("chunk_text"))
    return out.select(*cols)


def context_chunks_sql(
    table: str = DOCS_TABLE,
    max_tokens: int = 32,
    overlap: int = 8,
) -> str:
    """DuckDB twin of :func:`context_chunks` (lockstep double-unnest)."""
    stride = max_tokens - overlap
    toks = (
        f"list_filter(string_split_regex({norm_text_sql(TEXT_COL)}, '\\s+'), "
        "t -> t <> '')"
    )
    n_chunks = (
        f"greatest(1, CAST(ceil((len({toks}) - {overlap}) / {stride}.0) AS INT))"
    )
    win = f"({toks})[i * {stride} + 1 : i * {stride} + {max_tokens}]"
    return f"""
    SELECT {DOC_ID_COL},
           unnest(range({n_chunks})) AS chunk_id,
           unnest(list_transform(range({n_chunks}), i -> len({win}))) AS n_tokens,
           unnest(list_transform(range({n_chunks}),
                                 i -> md5(array_to_string({win}, ' ')))) AS chunk_md5
    FROM {table}
    """


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

#: Hash-bucket modulus for split assignment; 1e6 buckets gives 1e-4 %
#: granularity on the split fractions.
_SPLIT_MOD = 1_000_000


def assign_splits(
    df: DataFrame,
    key_col: str = DOC_ID_COL,
    train: float = 0.9,
    val: float = 0.05,
    seed: str = "split",
) -> DataFrame:
    """Add a ``split`` column ('train' | 'val' | 'test') by hashing the
    stable key — the assignment is a pure function of (key, seed), so
    re-runs, backfills, and incremental ingests route every document
    identically with zero coordination state. Test fraction is the
    remainder ``1 - train - val``.

    Pure projection: 0 shuffles. Downstream writers partition by
    ``split`` to land the three sets in separate directories.
    """
    bucket = md5_long(F.col(key_col), seed) % _SPLIT_MOD
    t_hi = int(train * _SPLIT_MOD)
    v_hi = t_hi + int(val * _SPLIT_MOD)
    return df.withColumn(
        "split",
        F.when(bucket < t_hi, "train").when(bucket < v_hi, "val").otherwise("test"),
    )


def assign_splits_sql(key_sql: str = DOC_ID_COL) -> str:
    """DuckDB twin of :func:`assign_splits` (the split CASE expression)."""
    t_hi = int(SPLIT_TRAIN * _SPLIT_MOD)
    v_hi = t_hi + int(SPLIT_VAL * _SPLIT_MOD)
    b = f"({md5_long_sql(key_sql, SPLIT_SEED)} % {_SPLIT_MOD})"
    return (
        f"CASE WHEN {b} < {t_hi} THEN 'train' "
        f"WHEN {b} < {v_hi} THEN 'val' ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: (name, pattern, replacement) applied in order over normalized text.
#: Patterns stay in the Java-regex ∩ RE2 common subset so the DuckDB twin
#: is exact. Order matters only for overlapping classes (SSN before
#: phone would matter if the phone pattern allowed 2-digit middles — it
#: doesn't; the set below is mutually exclusive on any input).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<email>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ssn>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<phone>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<ip>"),
)


def redacted_text(text_col: str = TEXT_COL) -> Column:
    """The redacted (normalized) text expression — exposed separately so
    pipelines can *carry* scrubbed text downstream, while the gated
    :func:`redact_pii` query surfaces only its hash."""
    clean: Column = norm_text(text_col)
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return clean


def redact_pii(df: DataFrame) -> DataFrame:
    """Scrub emails / SSNs / phone numbers / IPv4 addresses from document
    text, replacing each with a typed placeholder, and count what was
    removed per class. Output: ``(doc_id, n_email, n_ssn, n_phone,
    n_ipv4, clean_md5)`` — redacted text is hashed, not carried.

    Pure projection (regex only): 0 shuffles; at 100 TB this pipelines
    into the scan like any other row filter. Real deployments extend
    PII_PATTERNS (names, addresses need NER models — that step would ride
    the same mapInPandas seam as multimodal decode).
    """
    # stage the normalized text once: every count and the replace chain
    # reference it, and each inline reference would re-run the
    # lower+regex normalization pass
    staged = df.select(DOC_ID_COL, norm_text(TEXT_COL).alias("_p_norm"))
    counts = [
        F.regexp_count(F.col("_p_norm"), F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean: Column = F.col("_p_norm")
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return staged.select(DOC_ID_COL, *counts, F.md5(clean).alias("clean_md5"))


def redact_pii_sql(table: str = DOCS_TABLE) -> str:
    """DuckDB oracle twin of :func:`redact_pii`."""
    norm = norm_text_sql(TEXT_COL)
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all({norm}, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    clean = norm
    for _, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT {DOC_ID_COL},
           {counts},
           md5({clean}) AS clean_md5
    FROM {table}
    """


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------


def contamination_stats(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    flag_threshold: float = 0.10,
    id_col: str = DOC_ID_COL,
    text_col: str = TEXT_COL,
) -> DataFrame:
    """Per-document overlap with an evaluation benchmark: the fraction of
    a document's word ``k``-gram shingles that also appear anywhere in
    ``benchmark`` — the standard train-set decontamination check (an
    exact-substring tier; fuzzy tiers reuse MinHash from
    operators/dedup.py).

    Output: ``(doc_id, n_shingles, n_contaminated, contamination_rate,
    flagged)``.

    Scale shape: benchmark shingle set is dimension-sized (eval suites
    are MBs, not TBs) → distinct-hash build (one small shuffle), then a
    **broadcast left-semi membership probe** per exploded corpus shingle
    — the corpus side never shuffles, mirroring the df-cutoff
    inverted-index design measured in SCALE.md. If the benchmark ever
    outgrew broadcast, the same plan degrades gracefully to a shuffled
    semi join on the uniform hash key.
    """
    doc_sh = df.select(
        id_col, F.explode(shingles(text_col, k=k)).alias("sh")
    ).select(id_col, md5_long("sh").alias("sh_hash"))
    bench_sh = (
        benchmark.select(F.explode(shingles(text_col, k=k)).alias("sh"))
        .select(md5_long("sh").alias("sh_hash"))
        .distinct()
    )
    hit = F.col("hit_hash").isNotNull()
    per_doc = (
        doc_sh.join(
            F.broadcast(bench_sh.withColumnRenamed("sh_hash", "hit_hash")),
            F.col("sh_hash") == F.col("hit_hash"),
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit.cast("long")).alias("n_contaminated"),
        )
    )
    rate = F.round(F.col("n_contaminated") / F.col("n_shingles"), 6)
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_contaminated",
        rate.alias("contamination_rate"),
        (rate >= flag_threshold).alias("flagged"),
    )


def contamination_stats_sql(
    table: str = DOCS_TABLE,
    benchmark_cte: str = "benchmark",
    k: int = 5,
) -> str:
    """DuckDB oracle twin of :func:`contamination_stats` (callers supply
    a CTE named ``benchmark_cte`` with a ``text`` column)."""
    return f"""
    SELECT {DOC_ID_COL}, n_shingles, n_contaminated,
           round(n_contaminated * 1.0 / n_shingles, 6) AS contamination_rate,
           round(n_contaminated * 1.0 / n_shingles, 6) >= {0.10} AS flagged
    FROM (
      SELECT d.{DOC_ID_COL},
             count(*) AS n_shingles,
             CAST(sum(CASE WHEN b.sh_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated
      FROM (SELECT {DOC_ID_COL}, {md5_long_sql("sh")} AS sh_hash
            FROM (SELECT {DOC_ID_COL}, unnest({shingles_sql(TEXT_COL, k=k)}) AS sh
                  FROM {table})) d
      LEFT JOIN (SELECT DISTINCT {md5_long_sql("sh")} AS sh_hash
                 FROM (SELECT unnest({shingles_sql(TEXT_COL, k=k)}) AS sh
                       FROM {benchmark_cte})) b
        USING (sh_hash)
      GROUP BY d.{DOC_ID_COL})
    """


def cluster_safe_splits(
    df: DataFrame,
    cluster_map: DataFrame,
    key_col: str = DOC_ID_COL,
) -> DataFrame:
    """Leakage-safe train/val/test split: hash the near-dup CLUSTER id
    (canonical id from ``components.dedup_clusters``), not the document
    id, so two near-duplicate documents can never straddle a split —
    the classic train/test contamination vector :func:`assign_splits`
    alone cannot prevent.

    Documents absent from ``cluster_map`` are singleton clusters (their
    own id). Adds ``_split_key`` (the effective cluster key, kept for
    auditing) and ``split``. One BROADCAST join against the cluster map
    (it is change-sized — near-dup members only, a sliver of the corpus
    — so shipping it beats shuffling the corpus) + the 0-shuffle split
    projection; the assignment stays a pure function of (cluster,
    seed), so incremental ingests route new members of an existing
    cluster to the same split with zero coordination.
    """
    cl = cluster_map.select(
        F.col(key_col), F.col("canonical_id").alias("_canon")
    )
    out = (
        df.join(F.broadcast(cl), key_col, "left")
        .withColumn("_split_key", F.coalesce(F.col("_canon"), F.col(key_col)))
        .drop("_canon")
    )
    return assign_splits(
        out, key_col="_split_key", train=SPLIT_TRAIN, val=SPLIT_VAL,
        seed=SPLIT_SEED,
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk into fixed token blocks)
# ---------------------------------------------------------------------------


def pack_sequences(df: DataFrame, budget: int = 2048) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic pseudo-random order and split the token stream into
    fixed ``budget``-token training blocks; report each document's block
    span.

    Order within a group is ``md5(id)`` — a reproducible shuffle, so
    packing is stable across runs and engines without a random seed.
    Each doc occupies token span ``[offset, offset + n)``; it crosses a
    block boundary iff ``floor(offset/budget) != floor((offset+n-1)/
    budget)`` (the fraction of crossers is the attention-contamination
    cost of packing without document masking).

    Scale: the running offset is a window cumsum PARTITIONED BY
    ``source`` — one shuffle, parallel across groups. A single global
    packing order would serialize into one window task; at 100 TB use
    per-group packing (sources, shards) or the two-pass
    partition-offset composition, which this per-group form already is
    once the group key is a shard id.

    Zero-token documents (empty after normalization) are kept with a
    zero-width span and never counted as boundary crossers.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(SOURCE_COL)
        .orderBy(F.md5(F.col(DOC_ID_COL).cast("string")), F.col(DOC_ID_COL))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n = F.col(TOKENS_COL).cast("long")
    off = F.sum(TOKENS_COL).over(w).cast("long") - n
    out = df.select(
        DOC_ID_COL,
        SOURCE_COL,
        n.alias("n_tok"),
        off.alias("start_offset"),
        F.floor(off / budget).cast("long").alias("block_first"),
        F.floor((off + F.greatest(n, F.lit(1)) - 1) / budget)
        .cast("long")
        .alias("block_last"),
    )
    return out.withColumn(
        "crosses",
        (F.col("block_first") != F.col("block_last")) & (F.col("n_tok") > 0),
    )


def pack_sequences_sql(docs_sql: str, budget: int = 2048) -> str:
    """DuckDB twin of :func:`pack_sequences` (integer floor-division
    ``//`` mirrors ``F.floor`` on the same nonnegative longs)."""
    return f"""
    SELECT {DOC_ID_COL}, {SOURCE_COL}, n_tok, start_offset,
           start_offset // {budget} AS block_first,
           (start_offset + greatest(n_tok, 1) - 1) // {budget} AS block_last,
           (start_offset // {budget}
            <> (start_offset + greatest(n_tok, 1) - 1) // {budget})
           AND n_tok > 0 AS crosses
    FROM (
      SELECT {DOC_ID_COL}, {SOURCE_COL},
             CAST({TOKENS_COL} AS BIGINT) AS n_tok,
             CAST(sum({TOKENS_COL}) OVER (
                    PARTITION BY {SOURCE_COL}
                    ORDER BY md5(CAST({DOC_ID_COL} AS VARCHAR)), {DOC_ID_COL}
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - CAST({TOKENS_COL} AS BIGINT) AS start_offset
      FROM {docs_sql}
    )
    """


def materialize_blocks(docs: DataFrame, assignment: DataFrame) -> DataFrame:
    """Materialize packed training sequences from a
    :func:`pack_sequences` assignment: join text back to the assignment,
    group by (group, block_first) and concatenate documents in packing
    order with a separator token — the actual writer a training loader
    consumes.

    A document crossing a block boundary is emitted in its FIRST block
    (concat-and-chunk semantics leave the final split to the tokenizer;
    the ``crosses`` flag already measures how often that happens). One
    join on the id and one shuffle on (group, block); per-block state is
    bounded by block token budget, not partition size.
    """
    joined = assignment.join(
        docs.select(DOC_ID_COL, TEXT_COL), DOC_ID_COL
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("start_offset", TEXT_COL))
    )
    return (
        joined.groupBy(SOURCE_COL, F.col("block_first").alias("block"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("block_tokens"),
            F.array_join(
                F.transform(ordered, lambda s: s[TEXT_COL]),
                "<|endofdoc|>",
            ).alias("block_text"),
        )
    )
