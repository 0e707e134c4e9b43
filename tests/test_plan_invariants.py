"""Physical-plan regression gates (SURVEY.md §4): the scale-design
properties the engine promises — broadcast dimension joins, bounded
shuffle counts, zero-shuffle projections, no accidental cartesian
products — asserted on the real executed plans so a plan regression
fails CI before it shows up in the bench.

Counts use the same methodology as scripts/plan_audit.py: shuffles =
Exchange minus BroadcastExchange occurrences in the executed-plan string.
Upper bounds are intentionally loose (AQE may insert or elide exchanges)
— the gates catch category regressions (a broadcast degrading to
sort-merge, a projection growing a shuffle), not exact plan shapes.
"""

from __future__ import annotations

import pytest

from streaming_etl_pipeline_spark.plans.corpus import QUERIES

SF = "/root/testdata/sf0.001"


def _plan_counts(spark, name):
    # cached frames left behind by earlier tests (carrier suites persist
    # shared scans) get substituted into matching plan fragments, and
    # toString() re-prints the cached child's internal exchanges at the
    # substitution site — the same overcount plan_audit.py fixed
    # structurally. Count the canonical uncached plan instead.
    spark.catalog.clearCache()
    plan = QUERIES[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    return {
        "shuffles": plan.count("Exchange") - plan.count("BroadcastExchange"),
        "bcast": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "plan": plan,
    }


# (query, max_shuffles, min_broadcast_joins, max_sort_merge_joins)
PLAN_GATES = [
    # star joins: every dimension must broadcast, fact shuffles only for agg
    ("q3_shipping_priority", 3, 1, 0),
    ("q5_local_volume", 3, 3, 0),
    ("q9_profit_by_nation", 2, 4, 0),
    ("q10_returned_items", 3, 2, 0),
    # single-pass rollups: one shuffle for the groupBy (+1 AQE slack)
    ("q1_pricing_summary", 2, 0, 0),
    # daily_summary carries an exact COUNT(DISTINCT) → two-phase expand
    ("daily_summary", 3, 0, 0),
    # pure projections: must never grow a shuffle (spread() exempted by
    # using queries that don't call it)
    ("pii_redaction", 0, 0, 0),
    ("context_chunk_stats", 0, 0, 0),
    ("text_stats", 1, 0, 0),
    # windowed gold: bucket agg is one shuffle (+spread's round-robin)
    ("sensor_5min", 3, 0, 0),
    ("location_hourly", 3, 0, 0),
    # r6: JL projection is a pure map over the spread scan
    ("embedding_projection", 1, 0, 0),
    # r6: URL stage = 0-shuffle derivations + one domain window + rollup
    # (plus spread + the blocked-rows union branch); blocklist broadcasts
    ("url_curation", 5, 1, 0),
    # r6: PQ ADC = encode/reconstruct maps + one top-k window; the
    # query side is the (1-row-scalar-shaped) broadcast nested loop
    ("pq_adc_topk", 3, 0, 0),
    # r6: IVF-PQ probes via one cell equi-join (broadcast queries)
    ("ann_topk_ivf_pq", 3, 1, 0),
]


def test_kn5_cascade_stays_truncated(spark):
    """r9, reshaped r10: the self-trained pruned order-5 scorer now
    joins exactly ONE table — the fit's score table ``qtab``, whose q
    column evaluates the γ·q backoff cascade INSIDE the fit's existing
    level joins (with the r10 dict pruning ``{4: 2, 5: 2}`` a live γ₄
    is oracle-gated through it, judge r9 task #8). A regression
    re-planning the kept/γ join ladder at scoring time (up to 2n−1
    joins at order 5) would roughly double the lm_suite carrier's width
    and the sf0.1 gate's LM wall. Join-count bound covers estimation
    too: 4 chain joins (p₂..p₅ each join the level below) + 1 scoring
    join, with slack for AQE reads."""
    spark.catalog.clearCache()
    c = _plan_counts(spark, "kn5_lm_quality")
    # the precise witness: the scoring side projects the fit's q column
    # and NO kept/γ scoring columns (p5..p1, g5..g2 aliases only exist
    # if the ladder's joins planned)
    assert "q#" in c["plan"]
    for dead in ("g5#", "g4#", "g3#", "g2#", "p5#", "p4#", "p3#",
                 "p2#", "p1#"):
        assert dead not in c["plan"], f"cascade ladder joined: {dead}"
    # secondary textual bound (cached subtrees re-print, so this is
    # looser than the structural audit): ladder regressions land well
    # above it
    joins = c["bcast"] + c["smj"] + c["plan"].count("ShuffledHashJoin")
    assert joins <= 10, f"kn5 scoring re-widened: {joins} joins\n{c['plan'][:3000]}"


@pytest.mark.parametrize("name,max_sh,min_bc,max_smj", PLAN_GATES)
def test_plan_shape(spark, name, max_sh, min_bc, max_smj):
    c = _plan_counts(spark, name)
    assert c["shuffles"] <= max_sh, f"{name}: {c['shuffles']} shuffles\n{c['plan']}"
    assert c["bcast"] >= min_bc, f"{name}: only {c['bcast']} broadcast joins"
    assert c["smj"] <= max_smj, f"{name}: sort-merge join crept in"


def test_no_cartesian_products_anywhere(spark):
    """The only nested-loop joins allowed in the corpus are 1-row
    broadcast scalar shapes; a real CartesianProduct is always a bug."""
    offenders = []
    for name in QUERIES:
        try:
            c = _plan_counts(spark, name)
        except Exception:
            continue  # other gates cover analysis errors
        if c["cartesian"]:
            offenders.append(name)
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_scans_prune_columns(spark):
    """Column pruning reaches the parquet scan: a narrow projection over
    the wide lineitem table must not read every column."""
    df = QUERIES["q1_pricing_summary"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(
        (ln for ln in plan.splitlines() if "FileScan parquet" in ln and "lineitem" in ln),
        "",
    )
    assert scan, "no lineitem scan found"
    assert "l_orderkey" not in scan.split("ReadSchema")[-1], (
        "q1 reads no join keys; l_orderkey in ReadSchema means pruning broke"
    )


def test_structural_audit_counts_cached_subtree_once(spark):
    """scripts/plan_audit.audit_plan must count a persisted subtree's
    shuffles ONCE no matter how many scans reference it — toString()
    re-prints the cached child plan per usage site, which overcounted
    ts_motifs 45-vs-11 in round 3's PLAN_AUDIT. Pin with a synthetic
    3-consumer fan-out over one cached aggregation (1 shuffle)."""
    import sys as _sys

    sys_path_added = False
    import os as _os

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    scripts = _os.path.join(repo, "scripts")
    if scripts not in _sys.path:
        _sys.path.insert(0, scripts)
        sys_path_added = True
    try:
        from plan_audit import audit_plan

        from pyspark.sql import functions as F

        base = (
            spark.range(1000)
            .groupBy((F.col("id") % 10).alias("k"))
            .agg(F.sum("id").alias("s"))
            .persist()
        )
        try:
            fanout = (
                base.unionByName(base)
                .unionByName(base)
                .groupBy("k")
                .agg(F.sum("s").alias("t"))
            )
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                c = audit_plan(spark, fanout)
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", "true")
            # 1 shuffle inside the cached agg (counted once, not 3x)
            # + 1 for the final groupBy = 2
            assert c["shuffles"] == 2, c
        finally:
            base.unpersist()
    finally:
        if sys_path_added:
            _sys.path.remove(scripts)


def test_silver_chain_shuffles_once(spark):
    """Null drop → keep-latest dedup → range flags → rolling z-score
    plans one hash exchange on ``sensor_id`` and one sort: the dedup's
    ``(sensor_id, event_time, ingestion_time DESC)`` order serves the
    z-score window too (left to itself the chain plans 2 and 3)."""
    from pyspark.sql import functions as F

    from streaming_etl_pipeline_spark.pipelines.medallion import silver_chain
    from streaming_etl_pipeline_spark.sources.generator import generate_events

    bronze = generate_events(spark, 2000, n_sensors=8, seed=5).withColumn(
        "ingestion_time", F.col("event_time")
    )
    plan = (
        silver_chain(bronze, source_file="generated")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
    sorts = plan.count("Sort [")
    assert (exchanges, sorts) == (1, 1), plan
