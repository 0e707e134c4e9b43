"""Web-corpus URL curation: normalization, registrable-domain rollups,
per-domain caps and blocklists.

The stage every crawl-derived training corpus runs before text-level
filtering (C4 / RefinedWeb / Gopher all curate by URL first): canonicalize
the URL so syntactic variants collide, derive the registrable domain
(eTLD+1) as the curation key, cap documents per domain so no single host
dominates the mixture, and drop blocklisted domains outright.

Everything is built-in column expressions (regexp / split / array ops) —
0-shuffle per-row maps that stay in whole-stage codegen; only the
per-domain cap shuffles (once, on the domain key). Each helper has a
DuckDB twin generator so the stage is oracle-gated end-to-end.

100 TB notes: the cap's window partitions by registrable domain — a
Zipf-heavy crawl has hot domains, so :func:`domain_cap` takes the same
``skew=`` escape hatch as the dedup family (pre-cap per salt shard, then
the exact window over the ≤ ``salt × cap`` survivors); the blocklist is
broadcast (blocklists are thousands of rows, corpora are billions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.sources.io import DOC_ID_COL, N_CHARS_COL

#: Tracking parameters stripped during normalization (shared literal —
#: embedded in both engines' plans).
TRACKING_PARAM_RE = "^(utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)="

#: Public-suffix heuristic: two-label suffixes under which the
#: registrable domain takes three labels (a small, fixed slice of the
#: public-suffix list — production swaps in the full PSL as a broadcast
#: table; the algorithm is unchanged).
MULTI_LABEL_SUFFIXES = (
    "co.uk", "org.uk", "gov.uk", "ac.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "co.in", "com.br", "co.nz",
)

_SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_HOSTPORT_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"
_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = "\\?([^#]*)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def url_host(url: Column | str) -> Column:
    """Lowercased host: authority minus a default port (:80/:443) and a
    leading ``www.``.

    Scheme-less or malformed URLs yield ``''`` (regexp no-match), so
    every malformed row collapses into one empty pseudo-domain
    downstream. The curate pipeline's URL pre-gate therefore exempts
    ``''`` from :func:`domain_cap` (they are not one real domain) and
    reports them via a ``url_gate_malformed`` metric; callers applying
    the cap directly should do the same or pre-filter to well-formed
    absolute URLs."""
    hostport = F.lower(F.regexp_extract(_c(url), _HOSTPORT_RE, 1))
    host = F.regexp_replace(hostport, ":(80|443)$", "")
    return F.regexp_replace(host, "^www\\.", "")


def url_host_sql(url_sql: str) -> str:
    return (
        f"regexp_replace(regexp_replace(lower(regexp_extract({url_sql}, "
        f"'{_HOSTPORT_RE}', 1)), ':(80|443)$', ''), '^www\\.', '')"
    )


def normalize_url(url: Column | str) -> Column:
    """Canonical URL string: lowercase scheme + host, default port and
    ``www.`` stripped, fragment dropped, trailing slashes trimmed, and
    the query reduced to its non-tracking params in sorted order — so
    syntactic variants of one resource hash identically for dedup."""
    u = _c(url)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    host = url_host(u)
    path = F.regexp_replace(F.regexp_extract(u, _PATH_RE, 1), "/+$", "")
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(u, _QUERY_RE, 1), "&"),
                lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )


def normalize_url_sql(url_sql: str) -> str:
    """DuckDB twin of :func:`normalize_url` (binary string sort on both
    engines, so sorted param order matches)."""
    scheme = f"lower(regexp_extract({url_sql}, '{_SCHEME_RE}', 1))"
    host = url_host_sql(url_sql)
    path = f"regexp_replace(regexp_extract({url_sql}, '{_PATH_RE}', 1), '/+$', '')"
    params = (
        "array_to_string(list_sort(list_filter(string_split("
        f"regexp_extract({url_sql}, '\\?([^#]*)', 1), '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))), '&')"
    )
    return (
        f"{scheme} || '://' || {host} || {path} || "
        f"(CASE WHEN {params} <> '' THEN '?' || {params} ELSE '' END)"
    )


def registrable_domain(host: Column | str) -> Column:
    """eTLD+1: the last two host labels, or three when the two-label
    suffix is a known multi-label public suffix (``co.uk``-style)."""
    labels = F.split(_c(host), "\\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    is_multi = last2.isin(*MULTI_LABEL_SUFFIXES)
    return F.when(n <= 2, _c(host)).when(is_multi & (n >= 3), last3).otherwise(last2)


def registrable_domain_sql(host_sql: str) -> str:
    labels = f"string_split({host_sql}, '.')"
    suffixes = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    last2 = f"({labels})[-2] || '.' || ({labels})[-1]"
    last3 = f"({labels})[-3] || '.' || ({labels})[-2] || '.' || ({labels})[-1]"
    return (
        f"CASE WHEN len({labels}) <= 2 THEN {host_sql} "
        f"WHEN ({last2}) IN ({suffixes}) AND len({labels}) >= 3 THEN {last3} "
        f"ELSE {last2} END"
    )


def domain_cap(
    docs: DataFrame,
    cap: int,
    domain_col: str = "domain",
    order_col: str = N_CHARS_COL,
    id_col: str = DOC_ID_COL,
    skew: int | None = None,
) -> DataFrame:
    """Keep at most ``cap`` documents per domain, preferring high
    ``order_col`` (quality proxy), ties to the lowest id — adds
    ``domain_rank`` and boolean ``kept``.

    ``skew=S``: two-phase for Zipf-hot domains — a first window over
    (domain, id-hash mod S) keeps the best ``cap`` per shard, so the
    exact global window ranks ≤ S×cap survivors per domain instead of
    the raw row count; rows cut in phase 1 are provably outside the
    global top-``cap`` (their shard already had ``cap`` better rows).
    Rows dropped early never shuffle into the hot partition.

    Output contract under ``skew``: phase 1 physically DROPS its cut
    rows, so the result contains only the ≤ S×cap per-domain survivors
    — ``kept=false`` rows are NOT the complete delete list (only
    ``kept=true`` is meaningful; treat absence as dropped, as
    ``curate_corpus``'s ``.filter("kept")`` already does). Without
    ``skew`` every input row comes back with its flag.
    """
    ordering = [F.col(order_col).desc(), F.col(id_col).asc()]
    if skew:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(skew))
        pre = Window.partitionBy(F.col(domain_col), shard).orderBy(*ordering)
        docs = (
            docs.withColumn("_pre_rank", F.row_number().over(pre))
            .filter(F.col("_pre_rank") <= cap)
            .drop("_pre_rank")
        )
    w = Window.partitionBy(domain_col).orderBy(*ordering)
    return docs.withColumn("domain_rank", F.row_number().over(w)).withColumn(
        "kept", F.col("domain_rank") <= cap
    )


def blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose registrable domain appears in ``blocklist``
    (a 1-column ``domain`` frame) — broadcast anti-join, one corpus
    scan, no shuffle of the big side."""
    bl = F.broadcast(
        blocklist.select(F.col("domain").alias(domain_col)).distinct()
    )
    return docs.join(bl, on=domain_col, how="left_anti")
