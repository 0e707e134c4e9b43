"""Connected components over a pair graph — dedup cluster canonicalization.

A near-dedup pass (MinHash/LSH, SimHash, n-gram Jaccard —
``operators/dedup.py``) emits PAIRS; an actual corpus-curation pipeline
then needs the transitive closure of those pairs so every document maps
to ONE canonical representative (keep the min doc_id, drop the rest).
The reference has no such operator (its dedup is ranked keep-latest,
``src/transformations/bronze_to_silver.py:44-56``); at 100 TB this is the
step that turns "81 similar pairs" into "which rows do I delete".

Algorithm: distributed min-label propagation —

- labels start as each node's own id;
- each round, every node takes the min label over itself and its
  neighbors (one join edges⋈labels + one groupBy min);
- converged when no label changed (one count action per round).

Rounds needed = graph diameter. Near-dup graphs are unions of small
dense clusters (LSH buckets make them clique-ish), so diameter is small
and bounded in practice (2-4); ``max_iter`` guards the adversarial
long-chain case, and the star-contraction variant (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — O(log n)
rounds) is the documented upgrade path if chains ever dominate.

Scale notes:
- every round is ONE shuffle of the (small) edge list + label table —
  the corpus itself is never touched after pair generation;
- ``localCheckpoint`` truncates lineage each round, preventing the
  exponential plan growth that kills iterative DataFrame jobs;
- convergence is detected with a count on the CHANGED set only.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Endpoint columns of a near-dup pair frame.
SRC_COL = "id_a"
DST_COL = "id_b"

#: Default hub-degree threshold for ``skew=True`` on the graph family:
#: a node whose (in/out) degree exceeds this gets its per-round join
#: rows salted across SKEW_SALTS sub-keys. Crawl graphs are power-law —
#: 10⁷-in-link celebrity hosts are routine — and a plain key-partitioned
#: join puts a hub's entire edge list in one task.
SKEW_HUB_DEGREE = 100_000

#: Salt fan-out for hub keys. Hub rows spread across this many sub-keys;
#: the small (labels/ranks) side is replicated ×SKEW_SALTS for hub keys
#: only, so the replication cost is hubs × salts, never nodes × salts.
SKEW_SALTS = 32


def _salted_edges(
    edges: DataFrame, key: str, other: str, hubs: DataFrame, n_salts: int
) -> DataFrame:
    """Add a ``_salt`` column: hub-keyed rows spread by a hash of the
    OTHER endpoint (deterministic — no rand(), so replays and twin
    comparisons see the same placement), non-hub rows all salt 0."""
    return edges.join(
        F.broadcast(hubs.withColumn("_is_hub", F.lit(True))), key, "left"
    ).withColumn(
        "_salt",
        F.when(
            F.col("_is_hub").isNotNull(),
            F.pmod(F.xxhash64(F.col(other)), F.lit(n_salts)).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("_is_hub")


def _replicated_small_side(
    small: DataFrame, key: str, hubs: DataFrame, n_salts: int
) -> DataFrame:
    """Replicate the small side's hub-keyed rows across all salts (the
    non-hub rows keep salt 0), so ``join on (key, _salt)`` reproduces
    the unsalted join's row multiset exactly."""
    hub_rows = small.join(F.broadcast(hubs), key).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    norm_rows = small.join(F.broadcast(hubs), key, "left_anti").withColumn(
        "_salt", F.lit(0).cast("int")
    )
    return norm_rows.unionByName(hub_rows)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve the pair graph to ``(node, component)`` — component is the
    min node id reachable from ``node``. Input needs only the two id
    columns; direction is ignored."""
    # Materialize the pair plan ONCE before symmetrizing — the union
    # references it twice, and upstream pair generation (LSH banding +
    # verify) is the expensive part of the whole job.
    p = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    edges = (
        p.union(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        # candidate labels: my own + each neighbor's current label
        neighbor = (
            edges.join(labels, edges["v"] == labels["node"])
            .select(F.col("u").alias("node"), "comp")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # labels are provably stale — one propagation hop per round, so a
        # component with diameter > max_iter still carries split labels.
        # Returning them silently would canonicalize near-dup clusters
        # WRONG (documents kept that should merge).
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} rounds "
            f"({changed} labels still moving) — the pair graph has "
            "diameter > max_iter (chain-shaped, not clique-shaped). Use "
            "connected_components_star (O(log n) rounds on chains) or "
            "raise max_iter."
        )
    return labels.select("node", "comp")


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., SoCC'14): every node u links
    each STRICTLY LARGER neighbor to the minimum of its closed
    neighborhood — long chains halve because far nodes shortcut directly
    to the local minimum. ``edges`` must be symmetric (both directions
    present)."""
    mins = edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        edges.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges_sym: DataFrame) -> DataFrame:
    """One small-star round: orient every edge larger→smaller, then link
    each node's smaller-or-equal neighbors (and itself) to the minimum of
    that set — flattens local structure into stars."""
    oriented = (
        edges_sym.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return relink


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — O(log n) rounds on ADVERSARIAL long-chain graphs
    where min-label propagation needs O(diameter) rounds. Same output
    contract as :func:`connected_components`.

    Use this variant (``algorithm="star"`` on the public entry points)
    when near-dup pair graphs stop being clique-ish — e.g. shingle
    chains in crawl data, where doc A pairs with B, B with C, ... and
    the component diameter grows with the corpus. Each round is two
    self-joins of the EDGE list on uniformly-distributed id keys (the
    corpus is never touched), with ``localCheckpoint`` truncating
    lineage; convergence is an empty-difference check on the edge set.
    """
    nodes = (
        pairs.select(F.col(src).alias("u"))
        .union(pairs.select(F.col(dst).alias("u")))
        .distinct()
        .localCheckpoint()
    )
    p = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    edges = (
        p.union(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # seed with one small-star pass: orients every edge toward the local
    # minimum before the first contraction, saving a full round on chains
    stars = _small_star(edges).localCheckpoint()
    changed = 0
    for _ in range(max_iter):
        sym_in = stars.union(
            stars.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        # two large-star passes per round: chains halve twice per
        # synchronization barrier, so a 10k-node path closes in ~8
        # rounds instead of ~14 — at cluster scale the barrier (stage
        # wave + checkpoint) dominates, not the extra tiny-edge join
        ls = _large_star(sym_in)
        ls_sym = ls.union(
            ls.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        ls2 = _large_star(ls_sym)
        sym = ls2.union(ls2.select(F.col("v").alias("u"), F.col("u").alias("v")))
        new_stars = _small_star(sym).localCheckpoint()
        # converged when the (larger→smaller oriented) edge set is stable
        changed = (
            new_stars.exceptAll(stars).limit(1).count()
            + stars.exceptAll(new_stars).limit(1).count()
        )
        stars = new_stars
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds — "
            "with O(log n) convergence this needs a graph of ~2^"
            f"{max_iter} nodes or a bug; returning a partial mapping "
            "would canonicalize clusters wrong"
        )
    # at the fixpoint every node points directly at its component min
    return nodes.join(
        stars.select(F.col("u").alias("node"), F.col("v").alias("comp")),
        nodes["u"] == F.col("node"),
        "left",
    ).select(
        F.col("u").alias("node"),
        F.coalesce("comp", F.col("u")).alias("comp"),
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Canonicalization view of :func:`connected_components`:
    ``(doc_id, canonical_id, cluster_size)`` for every document that
    appears in at least one near-dup pair. Rows with
    ``doc_id != canonical_id`` are the deletion candidates.

    ``algorithm="label_prop"`` (default) is O(diameter) rounds — right
    for LSH-bucketed near-dup graphs, whose components are clique-ish;
    it RAISES if the graph turns out chain-shaped instead of returning
    stale labels. ``algorithm="star"`` switches to large-star/small-star
    contraction (O(log n) rounds) for chain-heavy graphs."""
    if algorithm == "star":
        cc = connected_components_star(
            pairs, src=SRC_COL, dst=DST_COL, max_iter=max_iter
        )
    else:
        cc = connected_components(
            pairs, src=SRC_COL, dst=DST_COL, max_iter=max_iter
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("comp")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def connected_components_sql(pairs_sql: str) -> str:
    """DuckDB oracle twin: recursive label reachability + min per node.

    Enumerates (node, reachable-label) pairs to a fixpoint — exponential
    in cluster size, so strictly a small-scale ORACLE, not the scale
    implementation."""
    return f"""
    WITH RECURSIVE pair_input AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (
      SELECT {SRC_COL} AS u, {DST_COL} AS v FROM pair_input
      UNION
      SELECT {DST_COL} AS u, {SRC_COL} AS v FROM pair_input
    ),
    reach(node, lab) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lab FROM reach r JOIN edges e ON e.v = r.node
    ),
    cc AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
    SELECT node AS doc_id, comp AS canonical_id,
           count(*) OVER (PARTITION BY comp) AS cluster_size
    FROM cc
    """


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    score_col: str = "score",
    hint_small: bool = False,
) -> DataFrame:
    """Quality-aware representative selection over near-dup clusters.

    :func:`dedup_clusters` picks the MIN doc_id as canonical — fine as a
    stable label, wrong as a KEEP policy: production dedup (CCNet,
    RefinedWeb §3.3) keeps the highest-QUALITY member of each duplicate
    cluster and deletes the rest. Given the cluster map and a per-doc
    quality score, this marks each cluster's representative: the member
    with the max score, ties broken toward the smaller doc_id so the
    choice is deterministic.

    Scale shape: one inner join clusters⋈scores on doc_id (clusters is
    pair-output-sized — only docs in ≥1 near-dup pair — usually a small
    fraction of the corpus), one groupBy on the cluster label folding to
    a single ``max(struct)`` with map-side combine (no per-cluster sort
    window), one join of the tiny rep table back. Cluster labels are
    min-doc-ids of LSH components: no skew beyond the cluster-size
    distribution itself, which banding already bounds.

    Output: ``doc_id, canonical_id, cluster_size (pass-through),
    rep_id, is_rep`` — ``is_rep = false`` rows are the delete list.

    ``hint_small=True`` broadcast-hints the cluster map and the rep
    table: right when duplicate clusters cover a small corpus fraction
    (the common case — both frames are pair-output-sized); leave False
    when near-total duplication makes them data-sized.
    """
    maybe_bcast = F.broadcast if hint_small else (lambda d: d)
    scored = maybe_bcast(clusters).join(
        scores.select(F.col("doc_id"), F.col(score_col)), "doc_id"
    )
    # max(struct(score, -doc_id)) ≡ argmax by (score DESC, doc_id ASC):
    # struct comparison is lexicographic, so negating the id makes the
    # smaller id win ties.
    reps = scored.groupBy("canonical_id").agg(
        F.max(
            F.struct(F.col(score_col), (-F.col("doc_id")).alias("_neg_id"))
        ).alias("_best")
    ).select(
        "canonical_id", (-F.col("_best._neg_id")).alias("rep_id")
    )
    return (
        scored.join(maybe_bcast(reps), "canonical_id")
        .select(
            "doc_id",
            "canonical_id",
            "cluster_size",
            "rep_id",
            (F.col("doc_id") == F.col("rep_id")).alias("is_rep"),
        )
    )


def cluster_representatives_sql(clusters_sql: str, scores_sql: str) -> str:
    """DuckDB oracle twin of :func:`cluster_representatives` — the rep
    is a ``first_value`` window ordered by (score DESC, doc_id ASC)."""
    return f"""
    WITH clus AS ({clusters_sql}),
    sc AS ({scores_sql}),
    scored AS (
      SELECT clus.doc_id, clus.canonical_id, clus.cluster_size,
             sc.score AS _score
      FROM clus JOIN sc USING (doc_id)
    )
    SELECT doc_id, canonical_id, cluster_size,
           first_value(doc_id) OVER (
             PARTITION BY canonical_id
             ORDER BY _score DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS rep_id,
           (doc_id = first_value(doc_id) OVER (
             PARTITION BY canonical_id
             ORDER BY _score DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           )) AS is_rep
    FROM scored
    """


# ---------------------------------------------------------------------------
# PageRank — link-graph authority scoring
# ---------------------------------------------------------------------------

#: Rank values are carried as BIGINT micro-units (rank × 10^6): every
#: per-step quantity is floor(x + 0.5) of an IEEE-double expression both
#: engines evaluate identically, and cross-node accumulation is an exact
#: integer sum — no round() ties, no decimal-vs-binary divergence, and
#: cheaper shuffles than DECIMAL accumulators at scale.
PAGERANK_SCALE = 1_000_000


class PreparedGraph(NamedTuple):
    """Persisted graph state shared across :func:`pagerank` runs over the
    same edge list (e.g. drop-mode and redistribute-mode rankings of one
    crawl graph): the deduplicated edges, the node set + its count, the
    out-degree table and the degree-joined, src-partitioned iteration
    frame. Build once with :func:`pagerank_prepare`; every field is
    persisted so N mode/parameter variants pay the distinct/degree
    shuffles once instead of N times."""

    nodes: DataFrame
    n: int
    deg: DataFrame
    ed: DataFrame


def pagerank_prepare(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> PreparedGraph:
    """Deduplicate + degree-join an edge list once for reuse by several
    :func:`pagerank` invocations (``prepared=``). The edge distinct, the
    node-set distinct and the degree aggregation are the only
    corpus-sized exchanges in PageRank — sharing them across mode
    variants (drop vs redistribute, different iteration counts) halves
    the prep cost of multi-ranking jobs."""
    from pyspark import StorageLevel

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()  # bounded scalar (one long) — not a data collect
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = e.join(deg, "src").repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    return PreparedGraph(nodes=nodes, n=n, deg=deg, ed=ed)


def pagerank(
    edges: DataFrame | None,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    hint_small: bool = False,
    teleport: DataFrame | None = None,
    redistribute_dangling: bool = False,
    scale: int = PAGERANK_SCALE,
    prepared: PreparedGraph | None = None,
    skew: bool | int = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — link-graph
    authority for crawl curation (seed prioritization, per-domain
    quality priors). Page, Brin, Motwani, Winograd 1999; fixed ``iters``
    power steps rather than convergence detection so the plan is bounded
    and the DuckDB twin (:func:`pagerank_sql`) can unroll it exactly.

    Returns ``(node, rank)`` with rank quantized to 6dp (micro-unit
    integers divided out — see PAGERANK_SCALE). By default dangling
    mass is dropped (nodes without out-edges redistribute nothing), the
    standard simplification; ranks then sum to slightly under 1 — fine
    for curation ranking, but crawl graphs are sink-heavy.
    ``redistribute_dangling=True`` adds the classic correction: each
    iteration sums the dangling nodes' rank (one exact BIGINT scalar,
    carried as a broadcast 1-row frame — no driver collect) and spreads
    ``damping × D/N`` uniformly, so rank mass is conserved to rounding.
    Cost: one nodes-sized semi-join + scalar aggregate per iteration —
    edges stay the only corpus-sized frame. Only the uniform walk
    supports it (a personalized walk would redistribute by the teleport
    vector — raise rather than silently pick one).

    ``scale`` is the micro-unit denominator. The default (10^6) gives
    6dp ranks — right for the domain-sized graphs the oracle rows pin,
    but per-node rank is ~scale/N units, so at crawl-scale N the
    default quantizes ranks to nothing (measured: a 200k-node graph
    kept only 0.24 of its mass through 3 drop-mode steps). Size it
    ≳ 10^6 × N; exactness holds while scale ≤ 2^53 (every rank_u is an
    exactly-representable double in both engines).

    ``teleport`` (optional) personalizes the walk: a ``(node,
    weight)`` frame (weights need not be normalized — they are divided
    by their sum) replaces the uniform restart distribution, biasing
    rank mass toward the weighted seed set (Haveliwala 2002,
    topic-sensitive PageRank — seed-trusted domains in crawl curation).
    Nodes absent from ``teleport`` get zero restart mass; initial ranks
    start at the personalization vector. With uniform weights the
    result matches the unpersonalized walk to within one micro-unit
    (the teleport term folds ``w/total`` instead of ``1/N``).

    Scale notes: the edge list is the only big frame. It is
    deduplicated, degree-joined, repartitioned on ``src`` and persisted
    ONCE — each iteration re-joins the (nodes-sized) rank frame against
    that fixed layout and shuffles only the per-``dst`` BIGINT
    contribution sum. ``hint_small=True`` additionally broadcast-hints
    the rank frame (right for graphs whose node table fits an executor —
    e.g. registrable domains — while edges are crawl-sized).

    ``skew=`` hardens the per-iteration rank join against power-law
    OUT-hubs (a link-farm host with 10⁷ out-edges would put its whole
    edge list in one task): sources with out-degree ≥ the threshold
    (``True`` → :data:`SKEW_HUB_DEGREE`, int overrides) get their edge
    rows salted by a hash of ``dst`` across :data:`SKEW_SALTS`
    sub-keys, and only the hub rows of the node-sized rank frame are
    replicated per salt — identical join multiset, hence bit-identical
    micro-unit ranks (pinned in ``tests/test_skew.py``). The per-dst
    contribution sum needs no salt: partial aggregation already
    combines a 10⁷-in-link hub's contributions map-side. Moot under
    ``hint_small`` (broadcast joins have no partitions to skew).
    """
    import math

    from pyspark import StorageLevel

    if prepared is None:
        if edges is None:
            raise ValueError("pagerank needs either edges or prepared=")
        # persist the deduplicated edge list: nodes, deg and the
        # iteration frame all derive from it — unpersisted, the distinct
        # would replan (and reshuffle) once per consumer
        prepared = pagerank_prepare(edges, src_col=src_col, dst_col=dst_col)
    nodes, n, deg, ed = prepared
    salted = bool(skew) and not hint_small
    if salted:
        threshold = SKEW_HUB_DEGREE if skew is True else int(skew)
        hubs = (
            deg.filter(F.col("out_deg") >= F.lit(threshold))
            .select(F.col("src").alias("node"))
            .persist(StorageLevel.MEMORY_AND_DISK)  # reused every step
        )
        ed = (
            _salted_edges(
                ed,
                "src",
                "dst",
                hubs.select(F.col("node").alias("src")),
                SKEW_SALTS,
            )
            .repartition("src", "_salt")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    if redistribute_dangling:
        if teleport is not None:
            raise ValueError(
                "redistribute_dangling supports only the uniform walk; "
                "a personalized walk would redistribute by the teleport "
                "vector — not implemented"
            )
        # deg is already one row per src — reuse it instead of paying a
        # second distinct over the edge list
        dang = nodes.join(
            deg.select(F.col("src").alias("node")),
            "node",
            "left_anti",
        ).persist(StorageLevel.MEMORY_AND_DISK)

    # python float ops are the same IEEE doubles the engines compute —
    # embed the results as literals so both plans carry identical ints
    if teleport is None:
        r0_u = int(math.floor(scale / float(n) + 0.5))
        teleport_u = int(
            math.floor(scale * (1.0 - damping) / float(n) + 0.5)
        )
        tel = nodes.select(
            "node", F.lit(teleport_u).cast("long").alias("tel_u")
        )
        ranks = nodes.select(
            "node", F.lit(r0_u).cast("long").alias("rank_u")
        )
    else:
        tw = teleport.select(
            F.col("node"), F.col("weight").cast("double").alias("w")
        )
        total = float(tw.agg(F.sum("w")).first()[0])  # bounded scalar
        seeded = (
            nodes.join(F.broadcast(tw) if hint_small else tw, "node", "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("w"), F.lit(0.0)) / F.lit(total)
                ).alias("w_norm"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        tel = seeded.select(
            "node",
            F.floor(
                F.lit(float(scale))
                * (F.lit(1.0) - F.lit(damping))
                * F.col("w_norm")
                + 0.5
            ).cast("long").alias("tel_u"),
        )
        ranks = seeded.select(
            "node",
            F.floor(
                F.lit(float(scale)) * F.col("w_norm") + 0.5
            ).cast("long").alias("rank_u"),
        )
    tel_b = F.broadcast(tel) if hint_small else tel
    for _ in range(iters):
        if redistribute_dangling:
            # ranks is consumed TWICE per step (contribs + d_mass); an
            # unpersisted frame would double the logical plan per
            # iteration (~2^iters lineage and recomputation). Eager
            # localCheckpoint truncates lineage to O(1) per step —
            # values unchanged (exact BIGINT micro-units throughout).
            ranks = ranks.localCheckpoint(eager=True)
        if salted:
            r_rep = _replicated_small_side(ranks, "node", hubs, SKEW_SALTS)
            contribs = ed.join(
                r_rep,
                (ed["src"] == r_rep["node"]) & (ed["_salt"] == r_rep["_salt"]),
            ).select(
                "dst",
                F.floor(F.col("rank_u") / F.col("out_deg") + 0.5).alias("c"),
            )
        else:
            r = F.broadcast(ranks) if hint_small else ranks
            contribs = ed.join(r, ed["src"] == r["node"]).select(
                "dst",
                F.floor(F.col("rank_u") / F.col("out_deg") + 0.5).alias("c"),
            )
        summed = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        s = F.broadcast(summed) if hint_small else summed
        step = nodes.join(s, nodes["node"] == s["dst"], "left").join(
            tel_b, "node"
        )
        new_rank = F.col("tel_u") + F.floor(
            F.lit(damping) * F.coalesce(F.col("s"), F.lit(0)) + 0.5
        )
        if redistribute_dangling:
            # exact BIGINT dangling mass as a broadcast 1-row frame (no
            # driver collect); the uniform share is the same scalar for
            # every node: floor(damping * (D / N) + 0.5) micro-units
            d_mass = ranks.join(dang, "node").agg(
                F.coalesce(F.sum("rank_u"), F.lit(0)).alias("dang_u")
            )
            step = step.crossJoin(F.broadcast(d_mass))
            new_rank = new_rank + F.floor(
                F.lit(damping)
                * (F.col("dang_u").cast("double") / F.lit(float(n)))
                + 0.5
            )
        ranks = step.select("node", new_rank.cast("long").alias("rank_u"))
    result = ranks.select(
        "node", (F.col("rank_u") / F.lit(float(scale))).alias("rank")
    )
    if salted:
        # ADVICE r9: the salted edge copy and the hubs frame are
        # per-CALL caches of a crawl-sized list — left persisted,
        # repeated salted runs over one PreparedGraph leak a cached
        # edge copy each. Materialize the node-sized result (eager
        # localCheckpoint truncates its lineage off the salted frames),
        # then release both; the PreparedGraph's own caches stay — their
        # reuse across calls is the intentional contract.
        result = result.localCheckpoint(eager=True)
        ed.unpersist()
        hubs.unpersist()
    return result


def pagerank_sql(
    edges_sql: str,
    iters: int = 3,
    redistribute_dangling: bool = False,
    scale: int = PAGERANK_SCALE,
) -> str:
    """DuckDB twin of :func:`pagerank`: the fixed power iteration
    unrolled into one CTE per step. Micro-unit integer ranks make the
    twin exact: floor(double + 0.5) is IEEE-identical in both engines
    and the per-dst sums are integer arithmetic (DuckDB's HUGEINT sum
    cast back to BIGINT). ``redistribute_dangling`` mirrors the Spark
    flag: one exact BIGINT dangling-mass scalar per unrolled step."""
    sc = scale
    n = "(SELECT CAST(count(*) AS DOUBLE) FROM nodes)"
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST(floor({sc} / {n} + 0.5) AS BIGINT) "
        "AS rank_u FROM nodes)",
    ]
    if redistribute_dangling:
        parts.append(
            "dang AS (SELECT node FROM nodes LEFT JOIN deg "
            "ON nodes.node = deg.src WHERE deg.src IS NULL)"
        )
    tel = f"CAST(floor({sc} * (1.0 - {0.85}) / {n} + 0.5) AS BIGINT)"
    for i in range(iters):
        parts.append(
            f"s{i + 1} AS (SELECT e.dst, CAST(sum(CAST(floor("
            f"CAST(r.rank_u AS DOUBLE) / deg.out_deg + 0.5) AS BIGINT)) "
            f"AS BIGINT) AS s "
            f"FROM e JOIN r{i} r ON e.src = r.node "
            f"JOIN deg ON e.src = deg.src GROUP BY e.dst)"
        )
        extra = ""
        if redistribute_dangling:
            parts.append(
                f"d{i + 1} AS (SELECT CAST(coalesce(sum(rank_u), 0) "
                f"AS BIGINT) AS dang_u FROM r{i} JOIN dang USING (node))"
            )
            extra = (
                f" + CAST(floor({0.85} * (CAST((SELECT dang_u FROM "
                f"d{i + 1}) AS DOUBLE) / {n}) + 0.5) AS BIGINT)"
            )
        parts.append(
            f"r{i + 1} AS (SELECT nodes.node, {tel} + CAST(floor("
            f"{0.85} * CAST(coalesce(s, 0) AS DOUBLE) + 0.5) AS BIGINT)"
            f"{extra} AS rank_u "
            f"FROM nodes LEFT JOIN s{i + 1} ON nodes.node = s{i + 1}.dst)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(rank_u AS DOUBLE) / {sc}.0 AS rank FROM r{iters}"
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    hint_small: bool = False,
    skew: bool | int = False,
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan et al.
    2007) — community detection for link/near-dup graphs, the
    modularity-ish complement to :func:`connected_components`: CC says
    "reachable", LPA says "densely attached", which is what domain
    clustering and spam-farm detection on a crawl graph actually need
    (a single stray hyperlink merges two CC components but not two LPA
    communities).

    Semantics (deterministic by construction, so the DuckDB twin
    matches bit-for-bit):

    - the graph is symmetrized and deduplicated (communities are an
      undirected notion; self-loops dropped);
    - labels start as each node's own id;
    - each round, every node SIMULTANEOUSLY adopts the most frequent
      label among its neighbors, ties broken by the smallest label —
      no randomized visit order, no asynchronous updates (the usual
      LPA tie-coin-flips would be irreproducible across engines);
    - fixed ``iters`` rounds rather than convergence detection, so the
      plan is bounded and :func:`label_propagation_sql` can unroll it.
      Synchronous LPA can two-cycle on bipartite-ish structures; a
      fixed horizon makes that a defined result instead of a hang.

    Returns ``(node, label)``.

    Scale shape: the symmetrized edge list is deduplicated and
    repartitioned on the neighbor key ONCE (persisted — every round
    re-joins against the same layout); each round is one join
    edges⋈labels + one (node,label) count with map-side combine + one
    per-node argmax window. Labels are node-sized, never edge-sized.
    ``hint_small=True`` broadcasts the label frame (right when the
    node table is domain-sized while edges are crawl-sized).

    ``skew=`` hardens the per-round shuffle join against power-law
    hubs: a 10⁷-in-link celebrity node would otherwise land its entire
    edge list in ONE task every round. Hub neighbors (degree ≥ the
    threshold; ``True`` uses :data:`SKEW_HUB_DEGREE`, an int overrides)
    get their edge rows salted across :data:`SKEW_SALTS` sub-keys by a
    hash of the other endpoint, and only the hub rows of the
    node-sized label frame are replicated per salt — so the join's
    output multiset (hence every vote count, hence every label) is
    BIT-IDENTICAL to the unsalted path, pinned in
    ``tests/test_skew.py``. Moot under ``hint_small`` (a broadcast
    join has no partition to skew).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .withColumnRenamed("a", "node")
        .withColumnRenamed("b", "nbr")
    )
    salted = bool(skew) and not hint_small
    if salted:
        threshold = SKEW_HUB_DEGREE if skew is True else int(skew)
        # in-degree == out-degree on the symmetrized graph; one
        # map-side-combined count, then a (tiny) hub list broadcast
        hubs = (
            sym.groupBy("nbr")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= F.lit(threshold))
            .select("nbr")
            .persist(StorageLevel.MEMORY_AND_DISK)  # reused every round
        )
        sym = _salted_edges(sym, "nbr", "node", hubs, SKEW_SALTS)
        sym = sym.repartition("nbr", "_salt")
    elif not hint_small:
        # co-locate the per-round edges⋈labels shuffle join; pointless
        # (one extra corpus-sized exchange) when labels broadcast
        sym = sym.repartition("nbr")
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    labels = sym.select(F.col("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for _ in range(iters):
        if salted:
            lb_rep = _replicated_small_side(
                labels.withColumnRenamed("node", "nbr"),
                "nbr",
                hubs,
                SKEW_SALTS,
            )
            joined = sym.join(lb_rep, ["nbr", "_salt"])
        else:
            lb = F.broadcast(labels) if hint_small else labels
            joined = sym.join(lb.withColumnRenamed("node", "nbr"), "nbr")
        votes = joined.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
    return labels


def label_propagation_sql(
    edges_sql: str, iters: int = 3, src: str = "src", dst: str = "dst"
) -> str:
    """DuckDB twin of :func:`label_propagation`: the synchronous rounds
    unrolled into one (votes, argmax) CTE pair per step. Every vote is
    an integer count and the argmax order (count DESC, label ASC) is
    total, so both engines pick identical labels at every round."""
    parts = [
        f"WITH e0 AS (SELECT {src} AS a, {dst} AS b FROM ({edges_sql}))",
        "sym AS (SELECT a AS node, b AS nbr FROM e0 WHERE a <> b "
        "UNION SELECT b, a FROM e0 WHERE a <> b)",
        "l0 AS (SELECT DISTINCT node, node AS label FROM sym)",
    ]
    for i in range(iters):
        parts.append(
            f"v{i + 1} AS (SELECT sym.node, l.label, count(*) AS cnt "
            f"FROM sym JOIN l{i} l ON sym.nbr = l.node "
            f"GROUP BY sym.node, l.label)"
        )
        parts.append(
            f"l{i + 1} AS (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY cnt DESC, label ASC) AS rn FROM v{i + 1}) "
            f"WHERE rn = 1)"
        )
    return ",\n".join(parts) + f"\nSELECT node, label FROM l{iters}"
