"""Deterministic corpus-sampling operators for training-data pipelines.

A 100 TB pretraining pipeline samples constantly — downsampling
over-represented sources, capping per-language token budgets, carving
eval holdouts — and every sample must be REPRODUCIBLE (same corpus +
same seed → same sample, on any cluster layout). Spark's built-in
``df.sample`` is seed-stable only per partitioning, so these operators
derive inclusion from content keys instead:

- :func:`hash_sample` — Bernoulli-by-key: include iff
  md5(key, seed) mod D < fraction·D. Per-row projection, zero shuffles,
  stable under repartitioning, and a superset property holds across
  fractions (the 10% sample contains the 5% sample at the same seed).
- :func:`reservoir_per_group` — exactly-n-per-group uniform-ish sample:
  rank rows by the same keyed hash within each group, keep the first n.
  One shuffle on the group key.
- :func:`token_budget_sample` — greedy per-group token cap: order docs
  deterministically (hash order → an unbiased shuffle), keep whole docs
  while the running token total stays within the budget. One shuffle on
  the group key. The 100 TB shape for "at most B tokens per
  (lang, source)" mixture specs.

All three are plain window/filter compositions with exact DuckDB twins
(see ``plans/corpus_samples.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.functions.core import md5_long, md5_long_sql
from streaming_etl_pipeline_spark.sources.io import (
    DOC_ID_COL,
    DOCS_TABLE,
    LANG_COL,
    N_CHARS_COL,
    TEXT_COL,
)

#: Hash seeds of the samplers whose Spark and DuckDB twins share one.
EPOCHS_SEED = "epochs"
MIXTURE_SEED = "mixture"
TEMPERATURE_SEED = "temperature"
WEIGHTED_SEED = "wsample"

#: Hash-space modulus for Bernoulli inclusion: the low 31 bits of the
#: 60-bit md5-derived hash — uniform, positive, and exactly representable
#: in both engines' arithmetic.
_SAMPLE_MOD = 1 << 31


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
    seed: str = "sample",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose keyed hash lands
    below ``fraction`` of the hash space. Same (corpus, seed, fraction)
    → same rows regardless of partitioning or cluster size; larger
    fractions strictly contain smaller ones (same seed)."""
    h = md5_long(key_col, seed) % _SAMPLE_MOD
    return df.filter(h < int(fraction * _SAMPLE_MOD))


def hash_sample_sql(key_sql: str, fraction: float, seed: str = "sample") -> str:
    """DuckDB twin of :func:`hash_sample`'s predicate."""
    return f"({md5_long_sql(key_sql, seed)} % {_SAMPLE_MOD}) < {int(fraction * _SAMPLE_MOD)}"


def reservoir_per_group(
    df: DataFrame,
    keys: Sequence[str],
    n: int,
    key_col: str,
) -> DataFrame:
    """Exactly min(n, |group|) rows per group, chosen by keyed-hash order
    — the deterministic analogue of a per-group reservoir sample. The
    hash is uniform in the key, so within a group the selection is
    unbiased w.r.t. any data attribute not correlated with the key."""
    h = md5_long(key_col, "reservoir")
    w = Window.partitionBy(*keys).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def token_budget_sample(
    df: DataFrame,
    keys: Sequence[str],
    token_col: str,
    budget: int,
    key_col: str,
) -> DataFrame:
    """Greedy per-group token cap: visit the group's docs in keyed-hash
    order (an unbiased deterministic shuffle) and keep whole docs while
    the cumulative token count stays ≤ ``budget``. Docs larger than the
    remaining budget are skipped-by-stopping, not truncated — the
    standard mixture-spec semantics ("≤ B tokens of lang X from source
    Y"). One shuffle on the group key; the window cumsum is the only
    state."""
    h = md5_long(key_col, "budget")
    w = (
        Window.partitionBy(*keys)
        .orderBy(h.asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w)
    return (
        df.withColumn("_cum_tokens", cum)
        .filter(F.col("_cum_tokens") <= budget)
        .drop("_cum_tokens")
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weights: dict[str, float],
    total_rows: int,
) -> DataFrame:
    """Deterministic mixture targeting: sample so that group ``g``
    contributes ~``weights[g] * total_rows`` rows — the pretraining
    mixture-spec operator ("50% web, 30% code, 20% books") with the
    same reproducibility contract as :func:`hash_sample`.

    Per-group inclusion fraction = min(1, weight·total / |group|), so an
    under-represented group is taken whole rather than upsampled (an
    explicit, loggable shortfall — repetition policy belongs to the
    trainer, not the sampler). Groups absent from ``weights`` are
    dropped. Cost: one dimension-sized count agg broadcast back onto a
    per-row filter — the corpus never shuffles.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_grp_cnt"))
    w = None
    for g, wt in weights.items():
        w = (
            F.when(F.col(group_col) == g, F.lit(float(wt)))
            if w is None
            else w.when(F.col(group_col) == g, F.lit(float(wt)))
        )
    w = (w.otherwise(F.lit(0.0)) if w is not None else F.lit(0.0)).alias("_wt")
    frac = F.least(F.lit(1.0), w * F.lit(float(total_rows)) / F.col("_grp_cnt"))
    # Compare in DOUBLE on both engines: Spark's cast-to-long truncates
    # while DuckDB's CAST(x AS BIGINT) rounds-to-nearest, so an integral
    # threshold is a cross-engine parity trap whenever frac·MOD has a
    # fractional part > 0.5 (fuzz-pinned in test_oracle_fuzz).
    h = md5_long(key_col, MIXTURE_SEED) % _SAMPLE_MOD
    return (
        df.join(F.broadcast(counts), group_col)
        .filter(h.cast("double") < frac * _SAMPLE_MOD)
        .drop("_grp_cnt")
    )


def mixture_sample_sql(
    table: str,
    key_sql: str,
    group_col: str,
    weights: dict[str, float],
    total_rows: int,
) -> str:
    """DuckDB twin of :func:`mixture_sample` (identical float arithmetic:
    the keyed hash compared in DOUBLE against least(1.0, wt·total/cnt)·MOD
    — no integral cast, whose truncate-vs-round semantics differ between
    the engines)."""
    values = ", ".join(f"('{g}', {float(wt)!r})" for g, wt in weights.items())
    return f"""
    SELECT t.* EXCLUDE (_wt, _grp_cnt)
    FROM (
      SELECT d.*, w.wt AS _wt, c._grp_cnt
      FROM {table} d
      JOIN (SELECT {group_col}, count(*) AS _grp_cnt FROM {table} GROUP BY 1) c
        USING ({group_col})
      JOIN (SELECT * FROM (VALUES {values}) AS v({group_col}, wt))
        w USING ({group_col})) t
    WHERE CAST(({md5_long_sql(key_sql, MIXTURE_SEED)} % {_SAMPLE_MOD}) AS DOUBLE)
          < least(1.0, _wt * CAST({total_rows} AS DOUBLE) / _grp_cnt)
            * {_SAMPLE_MOD}
    """


def weighted_sample(
    df: DataFrame,
    weight_col: str | Column,
    key_col: str = DOC_ID_COL,
) -> DataFrame:
    """Deterministic per-row weighted Bernoulli sample: keep a row iff
    its keyed hash fraction is below the row's own inclusion weight
    (0..1) — e.g. a quality score, so high-quality documents are
    upsampled and junk downsampled, the standard quality-weighted
    selection step of an LLM data mix.

    Same determinism contract as :func:`hash_sample`: the decision is a
    pure function of (key, seed, weight), independent of partitioning;
    raising a row's weight can only ADD it to the sample (monotone), so
    re-weighting never churns the kept set arbitrarily. 0-shuffle
    projection+filter. DuckDB twin: :func:`weighted_sample_sql`.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = md5_long(key_col, WEIGHTED_SEED) % _SAMPLE_MOD
    return df.filter(
        h.cast("double") < F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0))
        * _SAMPLE_MOD
    )


def weighted_sample_sql(key_sql: str, weight_sql: str) -> str:
    """DuckDB twin of :func:`weighted_sample`'s predicate."""
    return (
        f"CAST(({md5_long_sql(key_sql, WEIGHTED_SEED)} % {_SAMPLE_MOD}) AS DOUBLE)"
        f" < least(greatest({weight_sql}, 0.0), 1.0) * {_SAMPLE_MOD}"
    )


def _dyadic_pow(x: Column, alpha: float) -> Column:
    """``x**alpha`` for dyadic ``alpha = m / 2^k`` (0 < alpha ≤ 1),
    composed ONLY of IEEE sqrt and multiplication — both correctly
    rounded and bit-identical across engines, unlike ``pow``/``exp·ln``
    whose last-ulp behavior is implementation-defined (the trap noted on
    ``functions.core``). ``x^(2^-i)`` is i nested sqrts; the binary
    expansion of alpha picks which factors multiply in."""
    if alpha == 1.0:
        return x
    out = None
    cur = x
    a = alpha
    for _ in range(32):
        cur = F.sqrt(cur)
        a *= 2
        if a >= 1.0:
            out = cur if out is None else out * cur
            a -= 1.0
        if a == 0.0:
            return out
    raise ValueError(f"alpha={alpha} is not dyadic m/2^k with k <= 32")


def _dyadic_pow_sql(x_sql: str, alpha: float) -> str:
    """DuckDB twin of :func:`_dyadic_pow` (same factor composition)."""
    if alpha == 1.0:
        return x_sql
    factors = []
    cur = x_sql
    a = alpha
    for _ in range(32):
        cur = f"sqrt({cur})"
        a *= 2
        if a >= 1.0:
            factors.append(cur)
            a -= 1.0
        if a == 0.0:
            return " * ".join(factors)
    raise ValueError(f"alpha={alpha} is not dyadic m/2^k with k <= 32")


def temperature_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    alpha: float,
    total_rows: int,
) -> DataFrame:
    """Temperature-based mixture resampling — the multilingual /
    multi-source LM-data standard (UniMax-style): target share of group
    ``g`` ∝ ``p_g^alpha`` where ``p_g`` is its corpus share. ``alpha=1``
    keeps natural proportions, ``alpha→0`` flattens toward uniform;
    0.3–0.7 is the usual band that up-weights tail languages without
    letting them dominate. Unlike :func:`mixture_sample` the weights are
    DERIVED FROM THE DATA, so the spec is one scalar instead of a
    hand-maintained per-group table.

    Same determinism contract as :func:`hash_sample` (md5 keyed
    threshold, partition-independent); a group whose target exceeds its
    size is taken whole (shortfall is the trainer's repetition policy).
    ``alpha`` must be dyadic (m/2^k) — implemented as sqrt-products so
    both engines compute bit-identical weights (``pow`` is not portable);
    the weight normalization accumulates in DECIMAL for order
    independence. Cost: two dimension-sized aggregations broadcast back
    onto a per-row filter — the corpus never shuffles.
    """
    # Mirror the SQL twin's structure: the two normalizers are
    # sum() OVER () window passes on the G-row counts frame (one
    # single-partition exchange) instead of separate scalar aggregates
    # cross-joined back — same values (integer sum + exact DECIMAL
    # accumulation are order-independent), two fewer exchanges and no
    # nested-loop scalar merges in the plan.
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    q = counts.withColumn(
        "_n_tot", F.sum("_n").over(w_all)
    ).withColumn("_q", _dyadic_pow(F.col("_n") / F.col("_n_tot"), alpha))
    frac = q.withColumn(
        "_q_tot",
        F.sum(F.col("_q").cast("decimal(27,18)")).over(w_all).cast("double"),
    ).select(
        group_col,
        "_n",
        F.least(
            F.lit(1.0),
            (F.col("_q") / F.col("_q_tot"))
            * F.lit(float(total_rows))
            / F.col("_n"),
        ).alias("_frac"),
    )
    # Double-vs-double comparison on both engines (see mixture_sample:
    # integral casts truncate in Spark but round in DuckDB).
    h = md5_long(key_col, TEMPERATURE_SEED) % _SAMPLE_MOD
    return (
        df.join(F.broadcast(frac), group_col)
        .filter(h.cast("double") < F.col("_frac") * _SAMPLE_MOD)
        .drop("_n", "_frac")
    )


def temperature_sample_sql(
    table: str,
    key_sql: str,
    group_col: str,
    alpha: float,
    total_rows: int,
) -> str:
    """DuckDB twin of :func:`temperature_sample` (identical sqrt-product
    weights, DECIMAL-accumulated normalizer, DOUBLE threshold compare)."""
    p = f"(CAST(_n AS DOUBLE) / _n_tot)"
    return f"""
    SELECT t.* EXCLUDE (_n, _frac)
    FROM (
      SELECT d.*, f._n, f._frac
      FROM {table} d
      JOIN (
        SELECT {group_col}, _n,
               least(1.0, (_q / _q_tot) * CAST({total_rows} AS DOUBLE) / _n)
                 AS _frac
        FROM (
          SELECT {group_col}, _n, _q,
                 CAST(sum(CAST(_q AS DECIMAL(27,18))) OVER () AS DOUBLE)
                   AS _q_tot
          FROM (
            SELECT {group_col}, _n,
                   {_dyadic_pow_sql(p, alpha)} AS _q
            FROM (
              SELECT {group_col}, _n, sum(_n) OVER () AS _n_tot
              FROM (SELECT {group_col}, count(*) AS _n
                    FROM {table} GROUP BY 1)
            )
          )
        )
      ) f USING ({group_col})) t
    WHERE CAST(({md5_long_sql(key_sql, TEMPERATURE_SEED)} % {_SAMPLE_MOD}) AS DOUBLE)
          < _frac * {_SAMPLE_MOD}
    """


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = TEXT_COL,
    id_col: str = DOC_ID_COL,
    buckets: int = 4096,
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, arXiv:2302.03169):
    score every raw document by how much its hashed-n-gram distribution
    looks like the TARGET corpus rather than the raw corpus. Features
    are word uni+bigrams WITH multiplicity, hashed into ``buckets``
    cells; the per-doc score is the summed log importance ratio
    ``Σ_g  ln p̂[h(g)] − ln q̂[h(g)]``  (p̂ = add-1-smoothed target
    bucket distribution, q̂ = raw's).

    Plan/scale: ONE tagged count pass (raw grams tag 0 ∪ target grams
    tag 1 → conditional sums per bucket) collapses map-side to
    ≤ ``buckets`` rows before its single shuffle; the ratio table is
    bucket-sized and broadcast, so scoring is one more raw scan with a
    per-doc map-side-combined sum — two corpus-scale stages, nothing
    data-sized ever sits on the driver. Determinism for the
    differential oracle: Spark's ``Math.log`` and DuckDB's ``std::log``
    can differ in the last ulp (measured ~3% of inputs), so each
    bucket's log-ratio is rounded to 6 dp BEFORE the per-doc
    DECIMAL(38,6) sum — exact and order-independent from there on.

    Output: one row per raw doc with ≥1 gram —
    ``(doc_id, n_grams, log_weight)``.
    """
    from streaming_etl_pipeline_spark.operators.dedup import ngrams_list

    grams = F.concat(ngrams_list(text_col, 1), ngrams_list(text_col, 2))

    # ONE tagged count pass instead of two groupBys + a full-outer
    # join: union the raw grams (tag 0) and target grams (tag 1), then
    # conditional sums per bucket — identical q_cnt/p_cnt values
    # (missing side = 0, as COALESCE produced before), one shuffle
    # instead of three-stage merge.
    def grams_of(df: DataFrame, tag: int) -> DataFrame:
        return df.select(F.explode(grams).alias("g")).select(
            (md5_long("g") % buckets).alias("b"), F.lit(tag).alias("_t")
        )

    joined = (
        grams_of(raw, 0)
        .unionByName(grams_of(target, 1))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("_t") == 0, 1).otherwise(0))
            .cast("long")
            .alias("q_cnt"),
            F.sum(F.when(F.col("_t") == 1, 1).otherwise(0))
            .cast("long")
            .alias("p_cnt"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    llr = F.round(
        F.log(
            (F.col("p_cnt") + 1.0)
            / (F.sum("p_cnt").over(w_all) + float(buckets))
        )
        - F.log(
            (F.col("q_cnt") + 1.0)
            / (F.sum("q_cnt").over(w_all) + float(buckets))
        ),
        6,
    )
    ratio = joined.select("b", llr.alias("llr"))
    return (
        raw.select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, (md5_long("g") % buckets).alias("b"))
        .join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("llr").cast("decimal(38,6)"))
            .cast("double")
            .alias("log_weight"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    buckets: int = 4096,
    top_m: int = 100,
) -> DataFrame:
    """Top-``top_m`` DSIR selection (see :func:`dsir_log_weights` for
    the scoring): the highest-log-weight raw docs under a strict
    (log_weight DESC, id ASC) total order. Output:
    ``(doc_id, n_grams, log_weight, rank)``."""
    scored = dsir_log_weights(raw, target, buckets=buckets)
    top = scored.orderBy(
        F.col("log_weight").desc(), F.col(DOC_ID_COL).asc()
    ).limit(top_m)
    w_rank = Window.orderBy(F.col("log_weight").desc(), F.col(DOC_ID_COL).asc())
    return top.withColumn(
        "rank", F.row_number().over(w_rank).cast("long")
    ).select(DOC_ID_COL, "n_grams", "log_weight", "rank")


def dsir_select_sql(
    raw_where: str,
    target_where: str,
    buckets: int = 4096,
    top_m: int = 100,
) -> str:
    """DuckDB twin of :func:`dsir_select` (raw/target as WHERE clauses
    over the same table)."""
    from streaming_etl_pipeline_spark.operators.dedup import ngrams_list_sql

    grams = (
        f"list_concat({ngrams_list_sql(TEXT_COL, 1)}, "
        f"{ngrams_list_sql(TEXT_COL, 2)})"
    )
    bucket = f"({md5_long_sql('g')} % {buckets})"
    return f"""
    WITH rawg AS (
      SELECT {DOC_ID_COL}, unnest({grams}) AS g FROM {DOCS_TABLE} WHERE {raw_where}
    ),
    tgtg AS (
      SELECT unnest({grams}) AS g FROM {DOCS_TABLE} WHERE {target_where}
    ),
    q AS (SELECT {bucket} AS b, CAST(count(*) AS BIGINT) AS q_cnt
          FROM rawg GROUP BY 1),
    p AS (SELECT {bucket} AS b, CAST(count(*) AS BIGINT) AS p_cnt
          FROM tgtg GROUP BY 1),
    j AS (
      SELECT COALESCE(q.b, p.b) AS b,
             COALESCE(q_cnt, 0) AS q_cnt, COALESCE(p_cnt, 0) AS p_cnt
      FROM q FULL OUTER JOIN p ON q.b = p.b
    ),
    ratio AS (
      SELECT b,
             round(ln((p_cnt + 1.0) /
                      (CAST(sum(p_cnt) OVER () AS BIGINT) + {buckets}.0))
                 - ln((q_cnt + 1.0) /
                      (CAST(sum(q_cnt) OVER () AS BIGINT) + {buckets}.0)),
                   6) AS llr
      FROM j
    ),
    scored AS (
      SELECT rawg.{DOC_ID_COL},
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CAST(llr AS DECIMAL(38,6))) AS DOUBLE) AS log_weight
      FROM (SELECT {DOC_ID_COL}, {bucket} AS b FROM rawg) rawg
      JOIN ratio ON rawg.b = ratio.b
      GROUP BY 1
    )
    SELECT {DOC_ID_COL}, n_grams, log_weight,
           CAST(row_number() OVER (ORDER BY log_weight DESC, {DOC_ID_COL})
                AS BIGINT) AS rank
    FROM scored
    ORDER BY log_weight DESC, {DOC_ID_COL}
    LIMIT {top_m}
    """


def epoch_allocation(
    docs: DataFrame,
    budget: int,
    max_epochs: int = 4,
) -> DataFrame:
    """Budget-constrained epoch allocation across groups — the UniMax
    recipe (Chung et al. 2023, arXiv:2304.09151) with the repetition cap
    motivated by data-constrained scaling (Muennighoff et al. 2023,
    arXiv:2305.16264): spread a token ``budget`` as evenly as possible
    over groups (languages/sources), but never take more than
    ``max_epochs`` passes over any group's unique data; a capped group's
    unused share spills to the others.

    Closed form instead of the paper's per-round loop: this is
    water-filling — find the level L with Σ_g min(capacity_g, L) =
    budget, where capacity_g = unique_tokens_g × max_epochs. Sorting
    groups by capacity ascending with a running prefix sum, the first
    row i whose capacity reaches ``(budget − prefix_before_i) /
    (G − i + 1)`` pins L exactly; no iteration, no driver loop. If the
    budget exceeds total capacity every group is simply capped.

    Output: ``(group, unique_toks, capacity, allocation, epochs,
    capped)`` — Σ allocation = min(budget, Σ capacity).

    Plan/scale: ONE corpus aggregation (map-side combined to G rows);
    everything after operates on the G-row frame (single-partition
    windows are G-sized by construction) and the scalar level broadcasts
    back. All inputs to the IEEE divisions are exact integers, so the
    DuckDB twin matches bit-for-bit.
    """
    counts = docs.groupBy(F.col(LANG_COL).alias("grp")).agg(
        F.sum(N_CHARS_COL).cast("long").alias("unique_toks")
    )
    caps = counts.withColumn(
        "capacity", F.col("unique_toks") * F.lit(max_epochs)
    )
    w_ord = Window.orderBy(F.col("capacity").asc(), F.col("grp").asc())
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        caps.withColumn("i", F.row_number().over(w_ord))
        .withColumn(
            "s_before",
            F.coalesce(
                F.sum("capacity").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("g_total", F.count(F.lit(1)).over(w_all))
    )
    cand = (F.lit(budget) - F.col("s_before")).cast("double") / (
        F.col("g_total") - F.col("i") + 1
    )
    ranked = ranked.withColumn("cand", cand)
    level = ranked.filter(
        F.col("capacity").cast("double") >= F.col("cand")
    ).agg(F.min_by("cand", "i").alias("level"))
    alloc = F.round(
        F.least(
            F.col("capacity").cast("double"),
            F.coalesce("level", F.col("capacity").cast("double")),
        ),
        6,
    )
    return (
        ranked.crossJoin(F.broadcast(level))
        .select(
            "grp",
            "unique_toks",
            "capacity",
            alloc.alias("allocation"),
            # try_divide: an all-empty group (0 unique tokens) reports
            # NULL epochs instead of an ANSI error; DuckDB DOUBLE/0 is
            # NULL, so the twin agrees
            F.round(F.try_divide(alloc, F.col("unique_toks")), 6).alias(
                "epochs"
            ),
            (
                F.col("capacity").cast("double")
                <= F.coalesce("level", F.col("capacity").cast("double"))
            ).alias("capped"),
        )
    )


def epoch_allocation_sql(
    budget: int,
    max_epochs: int = 4,
) -> str:
    """DuckDB twin of :func:`epoch_allocation`."""
    return f"""
    WITH counts AS (
      SELECT {LANG_COL} AS grp,
             CAST(sum({N_CHARS_COL}) AS BIGINT) AS unique_toks
      FROM {DOCS_TABLE} GROUP BY 1
    ),
    caps AS (SELECT grp, unique_toks,
                    unique_toks * {max_epochs} AS capacity FROM counts),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY capacity, grp) AS i,
             COALESCE(CAST(sum(capacity) OVER (ORDER BY capacity, grp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS s_before,
             CAST(count(*) OVER () AS BIGINT) AS g_total
      FROM caps
    ),
    cands AS (
      SELECT *, CAST({budget} - s_before AS DOUBLE) / (g_total - i + 1)
                AS cand
      FROM ranked
    ),
    lvl AS (
      SELECT min_by(cand, i) AS level FROM cands
      WHERE CAST(capacity AS DOUBLE) >= cand
    )
    SELECT grp, unique_toks, capacity,
           round(least(CAST(capacity AS DOUBLE),
                       COALESCE(level, CAST(capacity AS DOUBLE))), 6)
             AS allocation,
           round(round(least(CAST(capacity AS DOUBLE),
                       COALESCE(level, CAST(capacity AS DOUBLE))), 6)
                 / unique_toks, 6) AS epochs,
           CAST(capacity AS DOUBLE)
             <= COALESCE(level, CAST(capacity AS DOUBLE)) AS capped
    FROM cands CROSS JOIN lvl
    """


def materialize_epochs(df: DataFrame, allocation: DataFrame) -> DataFrame:
    """Materialize an epoch allocation into the repeated-document
    training stream a data loader actually consumes.

    :func:`epoch_allocation` answers "how many epochs of each group fit
    the token budget" (UniMax water-filling); this operator turns those
    per-group ``epochs`` (a float like 2.37) into concrete document
    copies: every doc of the group appears ``floor(epochs)`` times, and
    a deterministic ``frac(epochs)``-sized keyed-hash slice of the
    group's docs appears once more — so the emitted token mass matches
    the allocation in expectation per group while staying exactly
    reproducible (same corpus + seed → same copies on any cluster
    layout, the same contract as :func:`hash_sample`). Groups allocated
    ``epochs < 1`` degrade to a plain Bernoulli-by-key downsample;
    groups with NULL epochs (empty capacity) emit nothing.

    Output grain: one row per (document, copy) with ``copy`` in
    ``1..n_copies`` — ready to feed sequence packing / shard export.

    Plan/scale: the allocation is G rows (one per group) and broadcast;
    the corpus is scanned once with a per-row hash + ``explode(
    sequence(...))`` whose expansion factor is bounded by ``max_epochs``
    — no shuffle over the corpus at any scale. The fractional-copy
    threshold is compared in DOUBLE on both engines (the
    ``temperature_sample`` parity rule): ``epochs`` is already
    oracle-pinned identical, and ``-``/``*``/``floor`` are IEEE-exact,
    so no further rounding is applied.
    """
    al = F.broadcast(
        allocation.select(F.col("grp").alias(LANG_COL), "epochs")
    )
    h = (md5_long(DOC_ID_COL, EPOCHS_SEED) % _SAMPLE_MOD).cast("double")
    n_full = F.floor(F.col("epochs")).cast("long")
    frac = F.col("epochs") - F.floor(F.col("epochs"))
    extra = (h < frac * F.lit(float(_SAMPLE_MOD))).cast("long")
    return (
        df.join(al, LANG_COL)
        .withColumn("n_copies", n_full + extra)
        .filter(F.col("n_copies") >= 1)
        .select(
            DOC_ID_COL,
            LANG_COL,
            "epochs",
            "n_copies",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies"))
            ).alias("copy"),
        )
    )


def materialize_epochs_sql(budget: int, max_epochs: int = 4) -> str:
    """DuckDB twin of :func:`materialize_epochs` composed over
    :func:`epoch_allocation_sql` (the allocation CTE is the registered
    oracle SQL verbatim, so the two stages stay in lock-step)."""
    alloc = epoch_allocation_sql(budget, max_epochs)
    h = f"CAST(({md5_long_sql(f'd.{DOC_ID_COL}', EPOCHS_SEED)} % {_SAMPLE_MOD}) AS DOUBLE)"
    return f"""
    WITH alloc AS ({alloc}),
    j AS (
      SELECT d.{DOC_ID_COL}, d.{LANG_COL}, a.epochs,
             CAST(floor(a.epochs) AS BIGINT)
             + CASE WHEN {h}
                         < (a.epochs - floor(a.epochs)) * {float(_SAMPLE_MOD)}
                    THEN 1 ELSE 0 END AS n_copies
      FROM {DOCS_TABLE} d JOIN alloc a ON d.{LANG_COL} = a.grp
    )
    SELECT {DOC_ID_COL}, {LANG_COL}, epochs, n_copies,
           CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy
    FROM j WHERE n_copies >= 1
    """


def global_order_index(
    df: DataFrame,
    key_col: str,
    seed: str = "shuffle",
) -> DataFrame:
    """Deterministic global training-order permutation WITHOUT a global
    sort: every row gets ``ord`` — its dense 0-based position in the
    corpus-wide order of ``(md5(key, seed), key)`` — computed with
    bounded parallelism-safe pieces. Training runs shuffle their data
    once per epoch; doing it with ``ORDER BY rand()`` is neither
    reproducible nor restartable, and a naive ``row_number() OVER
    (ORDER BY hash)`` collapses the whole corpus into ONE sort
    partition. The engine shape (the classic zipWithIndex recurrence,
    expressed declaratively):

    - bucket = the hash's HIGH bits (``floor(h / (space/1024))``) —
      contiguous hash RANGES, so bucket order == global hash order
      (a mod-bucket would interleave ranges and break the equivalence);
    - per-bucket ``row_number`` windows run in parallel (buckets are
      uniform — the hash is uniform);
    - each bucket's starting offset is a running sum over the
      bucket-COUNT table (1024 rows, broadcast back).

    Same (corpus, seed) → same permutation under any partitioning or
    cluster size; different seeds → independent epoch orders. Output:
    input columns + ``ord``.

    Precondition: ``key_col`` values are UNIQUE (the doc-id contract
    shared with the n-gram/BM25 sinks). The order is
    ``(md5(key, seed), key)`` — duplicate keys tie on BOTH columns, so
    their relative ``ord`` would be partition-placement-dependent (and
    the DuckDB twin equally underdetermined). Dedup ids upstream, or
    add a disambiguating column before calling.
    """
    from pyspark import StorageLevel

    space = float(1 << 60)
    h = md5_long(key_col, seed)
    bucket = F.floor(h.cast("double") / F.lit(space / 1024)).cast("long")
    keyed = df.withColumn("_h", h).withColumn("_b", bucket).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    offsets = (
        keyed.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_off")
    )
    w = Window.partitionBy("_b").orderBy(
        F.col("_h").asc(), F.col(key_col).asc()
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_b")
        .withColumn("ord", (F.col("_off") + F.col("_rn") - 1).cast("long"))
        .drop("_h", "_b", "_rn", "_off")
    )


def global_order_index_sql(
    table: str, key_col: str, seed: str = "shuffle"
) -> str:
    """DuckDB twin of :func:`global_order_index` — the single-node
    engine can afford the direct global window, and its result is by
    construction identical to the bucket-offset decomposition."""
    h = md5_long_sql(key_col, seed)
    return f"""
    SELECT *, CAST(row_number() OVER (ORDER BY {h}, {key_col}) - 1
           AS BIGINT) AS ord
    FROM {table}
    """
