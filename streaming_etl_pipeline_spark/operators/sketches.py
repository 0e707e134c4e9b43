"""Portable sketches: approximate algorithms whose results are exactly
reproducible across engines.

Spark's built-in sketches (``approx_count_distinct`` = HyperLogLog++,
``percentile_approx`` = KLL-ish) produce engine-specific estimates a
DuckDB oracle can't reproduce. The K-Minimum-Values (KMV) estimator is
different: its entire state is "the k smallest md5 hashes of the
distinct values" — a deterministic function of the value set — so both
engines compute the *same* estimate bit-for-bit, and the differential
gate can verify an approximate algorithm exactly.

Estimator (Bar-Yossef et al. 2002): with U = hash-space size and
``kth_min`` the k-th smallest distinct hash, distinct ≈ (k−1)·U/kth_min;
relative error ≈ 1/√k. Exact below k distinct values (the sketch holds
them all).

Scale shape: hash → per-key DISTINCT (one shuffle, map-side partial) →
per-key top-k window over the *distinct hashes* (second stage sees at
most the distinct count per key, and Spark's WindowGroupLimit pushes the
rank-k filter into the sort). At 100 TB the distinct pre-aggregation is
the dominant cost — same as exact countDistinct — but the sketch output
(k longs per key) is mergeable across partitions/days: persist per-day
sketches and union+re-top-k to estimate distinct over any date range
without rescanning, which exact countDistinct cannot do.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.functions.core import md5_long, md5_long_sql

#: Count-Min sketch shape and the HLL++ sketch precision.
CMS_DEPTH = 4
CMS_WIDTH = 256
HLL_LG_K = 12

#: md5_long hash space: 60-bit (15 hex chars).
HASH_SPACE = float(1 << 60)


def kmv_sketch(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-key KMV sketch state: the k smallest md5 hashes of the
    distinct ``value_col`` values, as rows (keys + ``_h``). This is the
    entire estimator state — :func:`kmv_distinct` aggregates it to a
    cardinality estimate and :func:`kmv_overlap` set-operates two of
    them — so a job needing both builds (and persists) the sketch once
    and passes it via their ``sketch=`` hooks. The output is ≤ k rows
    per key: persistable per day/source and mergeable by union +
    re-top-k without rescanning the corpus."""
    hashed = df.select(*keys, md5_long(value_col).alias("_h")).distinct()
    w = Window.partitionBy(*keys).orderBy("_h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    k: int = 64,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Per-key KMV distinct-count estimate of ``value_col``.

    Output: keys + ``n_kept`` (sketch fill), ``kth_min`` (sketch
    boundary), ``distinct_est``. ``distinct_est`` is exact when the key
    has < k distinct values. ``sketch=`` accepts a prebuilt
    :func:`kmv_sketch` frame (same keys/value/k) so multi-consumer jobs
    pay the corpus-sized distinct once.
    """
    kept = sketch if sketch is not None else kmv_sketch(df, keys, value_col, k)
    agg = kept.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("_h").alias("kth_min"),
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept").cast("double")).otherwise(
        F.floor((k - 1) * F.lit(HASH_SPACE) / F.col("kth_min")).cast("double")
    )
    return agg.select(*keys, "n_kept", "kth_min", est.cast("long").alias("distinct_est"))


def kmv_distinct_sql(
    table: str, keys: Sequence[str], value_col: str, k: int = 64
) -> str:
    """DuckDB oracle twin of :func:`kmv_distinct`."""
    keys_sql = ", ".join(keys)
    h = md5_long_sql(value_col)
    return f"""
    WITH hashed AS (
      SELECT DISTINCT {keys_sql}, {h} AS _h FROM {table}
    ),
    kept AS (
      SELECT {keys_sql}, _h,
             row_number() OVER (PARTITION BY {keys_sql} ORDER BY _h) AS _rn
      FROM hashed
    )
    SELECT {keys_sql}, count(*) AS n_kept, max(_h) AS kth_min,
           CAST(CASE WHEN count(*) < {k} THEN count(*)::DOUBLE
                ELSE floor(({k} - 1) * {HASH_SPACE!r} / max(_h)) END AS BIGINT)
             AS distinct_est
    FROM kept WHERE _rn <= {k}
    GROUP BY {keys_sql}
    """


#: Refuse to build a pairwise KMV overlap matrix above this many groups
#: (the pair frame is |groups|²·k rows). Sources/languages/snapshots are
#: dozens; a caller passing a domain- or doc-grain column would silently
#: queue a quadratic job — make the misuse loud instead of slow.
KMV_OVERLAP_MAX_GROUPS = 1_000


def kmv_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Pairwise set-operation estimates between every two groups, from
    their KMV sketches alone (Beyer et al., "On Synopses for Distinct-
    Value Estimation Under Multiset Operations", SIGMOD 2007): for each
    unordered group pair, merge the two bottom-k sketches, re-take the
    bottom k of the union, and read off

    - ``union_est``   — the KMV estimator over the merged sketch (the
      union's k-th minimum is a deterministic function of the two
      sketches);
    - ``jaccard_est`` — the fraction of the merged bottom-k present in
      BOTH sketches (each merged-bottom-k hash is a uniform sample of
      the union, so membership-in-both is a Bernoulli draw of the
      Jaccard coefficient);
    - ``inter_est``   — ``round(jaccard_est × union_est)``.

    Output: ``group_a < group_b`` pairs with ``n_kept`` (merged sketch
    fill), ``n_both``, ``union_est``, ``jaccard_est`` (9 dp),
    ``inter_est``. Exact when the pair's union has < k distinct values.

    Scale shape: after :func:`kmv_sketch` (whose corpus-sized distinct
    is the only big exchange — share it via ``sketch=`` when a job also
    runs :func:`kmv_distinct`), everything here is sketch-sized: the
    pair frame is |groups|² rows, each pair carries ≤ 2k hashes, and
    the cross-source overlap matrix for a 100 TB corpus costs exactly
    one corpus scan — versus one scan *per pair* for exact pairwise
    distincts. Estimates are bit-reproducible across engines: md5
    hashing, integer counts, one 9-dp-rounded IEEE division.

    The pair frame is |groups|² — right for source/language/snapshot
    cardinality, quadratic nonsense for domain- or doc-grain groups, so
    the group count is checked (one sketch-sized count action) against
    ``KMV_OVERLAP_MAX_GROUPS`` and the call raises rather than launching
    a job that cannot finish: the quadratic job should be loud.
    """
    if sketch is not None:
        sk = sketch
    else:
        from pyspark import StorageLevel

        # persist: the guard's count action below would otherwise pay
        # the sketch's corpus-sized distinct a second time
        sk = kmv_sketch(df, [group_col], value_col, k).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    ga = sk.select(F.col(group_col).alias("group_a")).distinct()
    n_groups = ga.count()  # sketch-grain scalar — bounded
    if n_groups > KMV_OVERLAP_MAX_GROUPS:
        raise ValueError(
            f"kmv_overlap: {n_groups} groups would build a "
            f"{n_groups}×{n_groups} pair matrix (more than "
            f"{KMV_OVERLAP_MAX_GROUPS}); pass a coarser group_col"
        )
    pairs = ga.join(
        ga.select(F.col("group_a").alias("group_b")),
        F.col("group_a") < F.col("group_b"),
    )
    # tag each merged hash row with which side(s) it came from; the
    # joins are pair-list × sketch — both bounded by groups²·k
    am = pairs.join(
        sk.select(F.col(group_col).alias("group_a"), "_h"), "group_a"
    ).select("group_a", "group_b", "_h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    bm = pairs.join(
        sk.select(F.col(group_col).alias("group_b"), "_h"), "group_b"
    ).select("group_a", "group_b", "_h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    merged = (
        am.unionByName(bm)
        .groupBy("group_a", "group_b", "_h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    w = Window.partitionBy("group_a", "group_b").orderBy("_h")
    bot = merged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    agg = bot.groupBy("group_a", "group_b").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("_h").alias("kth_min"),
        F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
    )
    union_est = (
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(
            F.floor((k - 1) * F.lit(HASH_SPACE) / F.col("kth_min")).cast(
                "double"
            )
        )
        .cast("long")
    )
    jac = F.round(
        F.col("n_both").cast("double") / F.col("n_kept").cast("double"), 9
    )
    out = agg.select(
        "group_a",
        "group_b",
        "n_kept",
        "n_both",
        union_est.alias("union_est"),
        jac.alias("jaccard_est"),
    )
    return out.withColumn(
        "inter_est",
        F.floor(
            F.col("jaccard_est") * F.col("union_est").cast("double") + 0.5
        ).cast("long"),
    )


def kmv_overlap_sql(
    table: str, group_col: str, value_col: str, k: int = 64
) -> str:
    """DuckDB oracle twin of :func:`kmv_overlap`."""
    h = md5_long_sql(value_col)
    return f"""
    WITH hashed AS (
      SELECT DISTINCT {group_col} AS g, {h} AS _h FROM {table}
    ),
    sk AS (
      SELECT g, _h FROM (
        SELECT g, _h, row_number() OVER (PARTITION BY g ORDER BY _h) AS _rn
        FROM hashed
      ) WHERE _rn <= {k}
    ),
    gs AS (SELECT DISTINCT g FROM sk),
    pairs AS (
      SELECT a.g AS group_a, b.g AS group_b
      FROM gs a JOIN gs b ON a.g < b.g
    ),
    merged AS (
      SELECT group_a, group_b, _h, max(ia) AS ia, max(ib) AS ib FROM (
        SELECT p.group_a, p.group_b, s._h, 1 AS ia, 0 AS ib
        FROM pairs p JOIN sk s ON s.g = p.group_a
        UNION ALL
        SELECT p.group_a, p.group_b, s._h, 0 AS ia, 1 AS ib
        FROM pairs p JOIN sk s ON s.g = p.group_b
      ) GROUP BY group_a, group_b, _h
    ),
    bot AS (
      SELECT * FROM (
        SELECT merged.*, row_number() OVER (
          PARTITION BY group_a, group_b ORDER BY _h) AS _rn
        FROM merged
      ) WHERE _rn <= {k}
    ),
    agg AS (
      SELECT group_a, group_b, count(*) AS n_kept, max(_h) AS kth_min,
             CAST(sum(ia * ib) AS BIGINT) AS n_both
      FROM bot GROUP BY group_a, group_b
    ),
    est AS (
      SELECT group_a, group_b, n_kept, n_both,
             CAST(CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                  ELSE floor(({k} - 1) * {HASH_SPACE!r} / kth_min)
                  END AS BIGINT) AS union_est,
             round(n_both::DOUBLE / n_kept::DOUBLE, 9) AS jaccard_est
      FROM agg
    )
    SELECT group_a, group_b, n_kept, n_both, union_est, jaccard_est,
           CAST(floor(jaccard_est * union_est::DOUBLE + 0.5) AS BIGINT)
             AS inter_est
    FROM est
    """


def hll_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-key HyperLogLog distinct estimate (Apache DataSketches HLL).

    The industry-standard fixed-size sketch: 2^HLL_LG_K registers per
    key regardless of cardinality (relative error ~ 1.04/sqrt(2^12),
    ~1.6%), vs KMV's k retained hashes. Unlike
    ``approx_count_distinct`` (whose HLL++ state is opaque), the sketch
    column from :func:`hll_daily_sketches` is exposed and mergeable.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(value_col, HLL_LG_K)
        ).alias("hll_est")
    )


def hll_daily_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-(key, day) HLL sketches — the persistable building block.

    At 100 TB the point of sketches is NOT the one-shot estimate (that
    costs the same scan as exact countDistinct): it's persisting one
    tiny sketch per (key, day) partition and answering "distinct over
    any date range" by merging sketches — no rescan, and the union
    carries the same error bound as a one-shot sketch. (The merged
    estimate is bit-identical to one-shot only while sketches are in
    coupon warm-up mode; after HLL promotion the union is equivalent
    within the configured error, not equal — the ``hll_merge_ok``
    differential gate and the unit test therefore pin the BOUND, not
    equality.)
    """
    return df.groupBy(*keys, F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg(value_col, HLL_LG_K).alias("hll_sketch")
    )


def hll_merge(daily: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge per-day sketches to any coarser grain (one small shuffle
    over sketches, not data)."""
    return daily.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias("hll_est")
    )


def count_min(df: DataFrame, value_col: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005 — public
    algorithm) as a relational table: for each of ``CMS_DEPTH`` seeded
    md5 hash rows, count items landing in each of ``CMS_WIDTH`` cells.
    Output grain: (seed, cell, cnt) — at most depth×width rows
    regardless of item cardinality.

    One map-side-combined shuffle builds it; cell-wise SUM merges
    sketches across partitions/days (same contract as the HLL family).
    Because the hash is md5 (not Spark-internal), the DuckDB oracle
    reproduces the sketch BIT-FOR-BIT — the differential gate verifies
    an approximate structure exactly. Estimates (:func:`cms_estimate`)
    are upper bounds: est ≥ true count, over by ≤ ~2n/width w.h.p.
    """
    rows = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("seed"),
                    (
                        md5_long(F.col(value_col), f"cms{d}") % CMS_WIDTH
                    ).alias("cell"),
                )
                for d in range(CMS_DEPTH)
            ])
        ).alias("_sc"),
    )
    return (
        rows.select("_sc.seed", "_sc.cell")
        .groupBy("seed", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_sql(
    table: str,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> str:
    """DuckDB oracle twin of :func:`count_min` (no keys flavor)."""
    branches = "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS seed, "
        f"({md5_long_sql(value_col, f'cms{d}')} % {width}) AS cell "
        f"FROM {table}"
        for d in range(depth)
    )
    return f"""
    SELECT seed, cell, count(*) AS cnt
    FROM ({branches})
    GROUP BY seed, cell
    """


def cms_estimate(
    cms: DataFrame,
    items: DataFrame,
    value_col: str,
) -> DataFrame:
    """Point-query the sketch for each row of ``items``: estimate =
    min over seeds of the item's cell count (0 if a cell is absent).
    Broadcast join of the (small, fixed-size) sketch onto the probes.
    The sketch must be a :func:`count_min` one (``CMS_DEPTH`` ×
    ``CMS_WIDTH``).
    """
    probes = items.select(
        value_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("seed"),
                    (
                        md5_long(F.col(value_col), f"cms{d}") % CMS_WIDTH
                    ).alias("cell"),
                )
                for d in range(CMS_DEPTH)
            ])
        ).alias("_sc"),
    ).select(value_col, "_sc.seed", "_sc.cell")
    return (
        probes.join(F.broadcast(cms), ["seed", "cell"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (fixed-bin histogram)
# ---------------------------------------------------------------------------


def quantile_sketch_build(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
    ts_col: str | None = None,
) -> DataFrame:
    """Per-key (optionally per-day) fixed-bin histogram sketch:
    ``(keys[, day], bin, cnt)`` rows, ≤ ``bins`` rows per group
    regardless of data volume.

    Completes the mergeable-sketch family (KMV / HLL / Count-Min) with
    quantiles: persist one histogram per (key, day) partition and answer
    "p95 over any date range" by summing bins — no rescan. Unlike
    ``percentile_approx`` (opaque state, not persistable), the sketch IS
    a table; unlike a t-digest, it is fully deterministic, so merges are
    exactly associative and the DuckDB oracle reproduces every estimate
    bit-for-bit. Error is the bin width ((hi−lo)/bins); values outside
    [lo, hi) clamp into the edge bins, which degrades only the tail
    estimates beyond the configured range.

    One map-side-combined shuffle on (keys, day, bin) — uniform keys,
    bounded output.
    """
    width = (hi - lo) / bins
    b = (
        F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
                F.lit(0),
            ),
            F.lit(bins - 1),
        )
        .cast("int")
        .alias("bin")
    )
    grp = [F.col(k) for k in keys]
    if ts_col:
        grp.append(F.to_date(ts_col).alias("day"))
    return df.groupBy(*grp, b).agg(F.count(F.lit(1)).alias("cnt"))


def quantile_sketch_merge(
    sketch: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Merge sketches to a coarser grain (drop day, union tables, …):
    sum counts per (keys, bin). A shuffle over sketch rows, not data."""
    return sketch.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))


def quantile_sketch_estimate(
    sketch: DataFrame,
    keys: Sequence[str],
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Estimate quantiles from a (possibly merged) sketch: for each q,
    the midpoint of the first bin where the cumulative count reaches
    q·total. Output: keys + n + one ``p<q>_est`` column per q."""
    from pyspark.sql import Window

    width = (hi - lo) / bins
    w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*keys)
    s = sketch.select(
        *keys,
        "bin",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(wt).alias("_tot"),
    )
    aggs = [F.max("_tot").alias("n")]
    for q in qs:
        aggs.append(
            F.min(
                F.when(
                    F.col("_cum") >= F.col("_tot") * F.lit(q), F.col("bin")
                )
            ).alias(f"_b{round(q * 100)}")
        )
    out = s.groupBy(*keys).agg(*aggs)
    for q in qs:
        bcol = f"_b{round(q * 100)}"
        out = out.withColumn(
            f"p{round(q * 100)}_est",
            F.round(F.lit(lo) + (F.col(bcol) + 0.5) * F.lit(width), 6),
        ).drop(bcol)
    return out


def quantile_sketch_sql(
    source_sql: str,
    key_sql: str,
    value_sql: str,
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int = 256,
    key_alias: str = "k",
) -> str:
    """DuckDB twin of build→merge→estimate over ``source_sql``."""
    width = (hi - lo) / bins
    q_aggs = ", ".join(
        f"min(CASE WHEN _cum >= _tot * {q!r} THEN bin END) AS _b{round(q * 100)}"
        for q in qs
    )
    # {lo!r}::DOUBLE — a bare 2.0 literal is DECIMAL in DuckDB, which
    # would keep the whole estimate in decimal arithmetic while Spark
    # computes doubles.
    q_vals = ", ".join(
        f"round({lo!r}::DOUBLE + (_b{round(q * 100)} + 0.5) * {width!r}::DOUBLE, 6)"
        f" AS p{round(q * 100)}_est"
        for q in qs
    )
    return f"""
    WITH sk AS (
      SELECT {key_sql} AS {key_alias},
             CAST(least(greatest(floor(({value_sql} - {lo!r}) / {width!r}), 0),
                        {bins - 1}) AS INT) AS bin,
             count(*) AS cnt
      FROM {source_sql} GROUP BY 1, 2),
    cums AS (
      SELECT {key_alias}, bin,
             CAST(sum(cnt) OVER (PARTITION BY {key_alias} ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _cum,
             CAST(sum(cnt) OVER (PARTITION BY {key_alias}) AS BIGINT) AS _tot
      FROM sk),
    est AS (
      SELECT {key_alias}, CAST(max(_tot) AS BIGINT) AS n, {q_aggs}
      FROM cums GROUP BY {key_alias})
    SELECT {key_alias}, n, {q_vals} FROM est
    """
