"""Model-based quality filtering: multinomial Naive Bayes over hashed
word n-gram features.

The one standard LLM-curation stage rule filters cannot cover: LLaMA,
RefinedWeb and DCLM all train a cheap linear classifier (fastText) on
weak labels — "looks like the reference corpus" vs "random web" — and
keep documents the model scores highly. This module is that stage as a
pure DataFrame program. Multinomial NB is chosen over LBFGS logistic
regression deliberately: training is ONE counting aggregation (closed
form, no iterations, bit-reproducible on any cluster topology) yet it is
the same hashed-bag-of-n-grams linear scorer fastText fits — per-bucket
log-likelihood ratios play the role of the learned weights.

Reference scope note: the reference pipeline (jmahotiedu/
streaming-etl-pipeline) has no model-based filter; this extends the
training-data surface alongside dedup/DSIR (operators/sampling.py),
reusing the same gram featurization and the same cross-engine
determinism discipline (log-ratios rounded to 6 dp BEFORE an
order-independent DECIMAL(38,6) sum — ln is not bit-stable across
engines; see ``dsir_log_weights``).

Scale shape (100 TB corpus, 1000 executors):
- TRAIN: label-join + gram explode collapses map-side to ≤ ``buckets``
  rows before its single shuffle (conditional sums per bucket — the
  tagged-count trick from DSIR). Nothing data-sized leaves the map side.
- MODEL: the weight table is exactly ``buckets`` rows (every bucket
  materialized from a ``range()`` so unseen-in-training grams still get
  their smoothed ratio), broadcast everywhere.
- SCORE: one corpus scan, per-doc map-side-combined decimal sum. Two
  corpus-scale stages total; both shuffle on uniform md5 keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.functions.core import md5_long, md5_long_sql
from streaming_etl_pipeline_spark.sources.io import DOC_ID_COL, TEXT_COL

#: Hashed feature buckets of the Naive Bayes quality classifier.
NB_BUCKETS = 4096

__all__ = [
    "nb_quality_scores",
    "nb_quality_scores_sql",
]


def _grams(text_col: str) -> Column:
    from streaming_etl_pipeline_spark.operators.dedup import ngrams_list

    return F.concat(ngrams_list(text_col, 1), ngrams_list(text_col, 2))


def nb_quality_scores(
    docs: DataFrame,
    labeled: DataFrame,
    text_col: str = TEXT_COL,
    id_col: str = DOC_ID_COL,
) -> DataFrame:
    """Train a hashed-n-gram multinomial NB quality model on ``labeled``
    (rows ``(doc_id, label boolean)`` — the weak-supervision subset) and
    score EVERY document in ``docs``.

    Per bucket b:  ``llr(b) = ln p̂(b|pos) − ln p̂(b|neg)`` with add-1
    smoothing over ``NB_BUCKETS`` cells; per doc:  ``nb_score = Σ_g
    llr(h(g)) + ln((n_pos+1)/(n_neg+1))`` and ``nb_keep = score > 0``.
    Features are word uni+bigrams WITH multiplicity (the fastText
    default), hashed with the corpus-wide 60-bit md5.

    Output: one row per doc with ≥1 gram —
    ``(doc_id, n_grams, nb_score, nb_keep)``.
    """
    grams = _grams(text_col)
    spark = docs.sparkSession

    train_grams = (
        docs.join(labeled.select(id_col, "label"), id_col)
        .select("label", F.explode(grams).alias("g"))
        .select((md5_long("g") % NB_BUCKETS).alias("b"), "label")
    )
    cnt = train_grams.groupBy("b").agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("pos_cnt"),
        F.sum(F.when(F.col("label"), 0).otherwise(1))
        .cast("long")
        .alias("neg_cnt"),
    )
    # Materialize every bucket so grams unseen in training still score
    # with their smoothed ratio (training is a subset: inner-joining the
    # observed buckets would silently drop such grams).
    full = (
        spark.range(NB_BUCKETS)
        .select(F.col("id").alias("b"))
        .join(cnt, "b", "left")
        .fillna(0, ["pos_cnt", "neg_cnt"])
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    llr = F.round(
        F.log(
            (F.col("pos_cnt") + 1.0)
            / (F.sum("pos_cnt").over(w_all) + float(NB_BUCKETS))
        )
        - F.log(
            (F.col("neg_cnt") + 1.0)
            / (F.sum("neg_cnt").over(w_all) + float(NB_BUCKETS))
        ),
        6,
    )
    model = full.select("b", llr.alias("llr"))
    prior = labeled.agg(
        F.round(
            F.log(
                (F.sum(F.when(F.col("label"), 1).otherwise(0)) + 1.0)
                / (F.sum(F.when(F.col("label"), 0).otherwise(1)) + 1.0)
            ),
            6,
        )
        .cast("decimal(38,6)")
        .alias("_prior")
    )
    scored = (
        docs.select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, (md5_long("g") % NB_BUCKETS).alias("b"))
        .join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("llr").cast("decimal(38,6)")).alias("_s"),
        )
        .crossJoin(F.broadcast(prior))
    )
    score = (F.col("_s") + F.col("_prior")).cast("double")
    return scored.select(
        id_col,
        "n_grams",
        score.alias("nb_score"),
        (score > 0).alias("nb_keep"),
    )


def nb_quality_scores_sql(docs_sql: str, labeled_sql: str) -> str:
    """DuckDB oracle twin of :func:`nb_quality_scores`. ``docs_sql``
    yields ``(doc_id, text)``; ``labeled_sql`` yields
    ``(doc_id, label boolean)``."""
    from streaming_etl_pipeline_spark.operators.dedup import ngrams_list_sql

    grams = (
        f"list_concat({ngrams_list_sql('text', 1)}, "
        f"{ngrams_list_sql('text', 2)})"
    )
    bucket = f"({md5_long_sql('g')} % {NB_BUCKETS})"
    return f"""
    WITH docs AS ({docs_sql}),
    labeled AS ({labeled_sql}),
    traing AS (
      SELECT l.label, unnest({grams}) AS g
      FROM docs d JOIN labeled l USING (doc_id)
    ),
    cnt AS (
      SELECT {bucket} AS b,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos_cnt,
             CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS neg_cnt
      FROM traing GROUP BY 1
    ),
    fullb AS (
      SELECT r.b, COALESCE(pos_cnt, 0) AS pos_cnt,
             COALESCE(neg_cnt, 0) AS neg_cnt
      FROM range({NB_BUCKETS}) r(b) LEFT JOIN cnt ON r.b = cnt.b
    ),
    model AS (
      SELECT b,
             round(ln((pos_cnt + 1.0) /
                      (CAST(sum(pos_cnt) OVER () AS BIGINT) + {NB_BUCKETS}.0))
                 - ln((neg_cnt + 1.0) /
                      (CAST(sum(neg_cnt) OVER () AS BIGINT) + {NB_BUCKETS}.0)),
                   6) AS llr
      FROM fullb
    ),
    prior AS (
      SELECT CAST(round(ln(
               (CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) + 1.0)
             / (CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) + 1.0)
             ), 6) AS DECIMAL(38,6)) AS _prior
      FROM labeled
    ),
    docg AS (
      SELECT doc_id, {bucket} AS b
      FROM (SELECT doc_id, unnest({grams}) AS g FROM docs)
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             sum(CAST(llr AS DECIMAL(38,6))) AS _s
      FROM docg JOIN model USING (b) GROUP BY 1
    )
    SELECT doc_id, n_grams,
           CAST(_s + (SELECT _prior FROM prior) AS DOUBLE) AS nb_score,
           (CAST(_s + (SELECT _prior FROM prior) AS DOUBLE) > 0) AS nb_keep
    FROM scored
    """
