"""Text-analysis operators for a training-data pipeline over ``documents``.

Extensions beyond the reference's own surface (SURVEY.md §7 step 7): the
reference's only string ops are regex extract/validate (F4,
``src/dashboard/app.py:258-259``, ``great_expectations/.../sensor_bronze.json:63-68``);
a corpus-scale pipeline also needs token counting, quality scoring,
language ID and fingerprinting. Everything here is a pure built-in
composition (no UDFs — SURVEY.md §2.10), so it stays inside whole-stage
codegen and has an exact DuckDB-SQL twin for the correctness oracle —
with ONE documented exception: :func:`canonicalize`'s NFC step is an
Arrow-batched ``pandas_udf`` because Spark has no JVM unicode-
normalization builtin (collations change comparison, not bytes).

Scale notes (100 TB): every operator is a narrow per-row projection —
no shuffle, no state — so it scales linearly with input splits and
pipelines into whatever scan feeds it. The only regex engines involved
are Java (Spark) and RE2 (DuckDB oracle); patterns are kept to the
common subset of both dialects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_etl_pipeline_spark.functions.core import md5_long, tokenize
from streaming_etl_pipeline_spark.sources.io import (
    DOC_ID_COL,
    DOCS_TABLE,
    LANG_COL,
    TEXT_COL,
)

#: Perplexity bucket count of :func:`perplexity_buckets`.
PERPLEXITY_BUCKETS = 3

#: BPE-ish word/number/punct splitter — the common Java/RE2 regex subset.
#: Always applied to normalized text, where the only whitespace is ' '.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

#: Stopword profiles for the language-ID scorer. Fixed literals — the
#: operator is a deterministic profile scorer, not a trained model; real
#: deployments would swap in per-language character-trigram profiles.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "im"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4"),
}

STOPWORDS = LANG_PROFILES["en"]

#: Codepoint classes fused into the language-ID argmax for languages
#: written WITHOUT whitespace tokens — unsegmented zh/ja/ko text has no
#: stopword tokens to count, so the stopword argmax alone routes it to
#: "unknown"/tie-default. Ranges are embedded as literal characters (the
#: :data:`SCRIPT_CLASSES` convention) so Java regex and RE2 agree.
CJK_SCRIPT_CLASSES: dict[str, str] = {
    "han": f"{chr(0x4E00)}-{chr(0x9FFF)}",        # CJK Unified Ideographs
    "kana": f"{chr(0x3040)}-{chr(0x30FF)}",       # Hiragana + Katakana
    "hangul": f"{chr(0xAC00)}-{chr(0xD7AF)}",     # Hangul syllables
}


# StringType() (not the "string" DDL shorthand): parsing a DDL string at
# decoration time needs an active SparkContext, which this module must
# not require at import.
@F.pandas_udf(T.StringType())
def _nfc(s):  # pragma: no cover — executes on executors
    import unicodedata

    return s.map(
        lambda x: unicodedata.normalize("NFC", x) if x is not None else None
    )


def canonicalize(col: Column | str) -> Column:
    """Unicode canonicalization: NFC normalization (combining sequences
    compose to their precomposed forms, so ``Cafe`` + U+0301 and
    ``Café`` hash identically) + case-fold + whitespace collapse/trim —
    the standard text cleanup that runs BEFORE content hashing in a dedup
    pipeline, so byte-level encoding variants of the same text land in
    one group.

    NFC is the one step Spark has no JVM builtin for (checked 4.1:
    collations affect comparison, not bytes), so it is an Arrow-batched
    ``pandas_udf`` over ``unicodedata.normalize`` — a documented
    exception to this module's no-UDF rule, vectorized per batch, still
    a 0-shuffle projection. NFC output is identical across Unicode
    versions (the normalization stability policy), so CPython's UCD and
    DuckDB's utf8proc agree — pinned by the oracle row and the
    combining-character fuzz class. Case-fold and the collapse stay
    built-in (``lower`` / ``regexp_replace``). DuckDB twin:
    :func:`canonicalize_sql` (``nfc_normalize``).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(_nfc(c))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def canonicalize_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`canonicalize`."""
    s = f"lower(nfc_normalize({col_sql}))"
    return rf"trim(regexp_replace({s}, '\s+', ' ', 'g'))"


#: Named HTML entities decoded by :func:`strip_html`. Decoding happens
#: in ONE tokenize-and-lookup pass (the html.unescape convention), so
#: ``&amp;lt;`` tokenizes as ``&amp;`` + ``lt;`` and decodes to the
#: literal text ``&lt;`` — never to ``<``; no application-order tricks.
_HTML_NAMED_ENTITIES: dict[str, str] = {
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&apos;": "'",
    "&nbsp;": " ",
    "&amp;": "&",
}

#: General-punctuation codepoints whose numeric refs are decoded in
#: addition to ASCII + Latin-1 — the characters real WET-stage HTML is
#: full of (curly quotes, dashes, ellipsis, bullets, €, ™).
_HTML_PUNCT_CPS: tuple[int, ...] = (
    0x2010, 0x2011, 0x2012, 0x2013, 0x2014, 0x2015,
    0x2018, 0x2019, 0x201A, 0x201C, 0x201D, 0x201E,
    0x2020, 0x2021, 0x2022, 0x2026, 0x2030, 0x2032, 0x2033,
    0x2039, 0x203A, 0x20AC, 0x2122,
)


def _build_html_entity_map() -> dict[str, str]:
    """Entity → replacement table: the named entities plus numeric
    character references (``&#NNNN;`` decimal, ``&#xHHHH;`` hex with
    either ``x``/``X`` and all-lower or all-upper hex digits; 3-digit
    zero-padded decimals for cp < 100) over tab/LF/CR, printable ASCII,
    the 0x80–0x9F range (WHATWG windows-1252 remapping, via
    ``html.unescape`` — ``&#146;`` → ``’``), Latin-1, and the common
    general-punctuation block. NBSP decodes to a plain space (like
    ``&nbsp;`` — the trailing ``\\s+`` collapse is ASCII-only in both
    engines). Refs outside the table — mixed-case hex digits,
    non-canonical padding, astral codepoints, C1 refs the WHATWG table
    leaves as controls — pass through as literal text, deterministically
    on both engines (they simply miss the map)."""
    import html as _html

    m = dict(_HTML_NAMED_ENTITIES)
    cps = (
        [9, 10, 13]
        + list(range(32, 127))
        + list(range(128, 256))
        + list(_HTML_PUNCT_CPS)
    )
    for cp in cps:
        val = _html.unescape(f"&#{cp};")
        if val in ("\t", "\n", "\r", "\xa0"):
            val = " "
        if len(val) == 1 and (ord(val) < 32 or 127 <= ord(val) <= 159):
            continue  # would emit a raw control char — leave undecoded
        m[f"&#{cp};"] = val
        if cp < 100:
            m[f"&#{cp:03d};"] = val
        h = format(cp, "x")
        for x in ("x", "X"):
            for digs in {h, h.upper()}:
                m[f"&#{x}{digs};"] = val
    return m


_HTML_ENTITY_MAP: dict[str, str] = _build_html_entity_map()

#: Tokenizer for the single decode pass: entity-shaped spans, maximal
#: non-``&`` runs, or a bare ``&`` — every position starts exactly one
#: token, so reassembly is lossless; leftmost-first alternation is the
#: same in Java regex and RE2.
_HTML_ENT_TOKEN_RE = (
    "&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};|&[a-zA-Z][a-zA-Z0-9]*;"
    "|[^&]+|&"
)


def strip_html(col: Column | str) -> Column:
    """Markup-to-text extraction (the WET stage of a web curation
    pipeline, cf. CCNet/C4 which consume pre-extracted text): drop
    ``<script>``/``<style>`` blocks and HTML comments wholesale, strip
    every remaining tag (replaced by a space so adjacent words don't
    fuse), decode entities — the named ones plus numeric character
    references (see :func:`_build_html_entity_map`) in one
    tokenize-and-lookup pass — and collapse whitespace. Case is
    PRESERVED — this is extraction, not normalization; feed the result
    to :func:`canonicalize`/:func:`norm_text` for dedup keys.

    0-shuffle per-row projection; every pattern avoids backreferences
    so Java regex (Spark) and RE2 (DuckDB) match byte-for-byte —
    pinned by the ``html_extract`` oracle row. Unclosed script/style
    blocks keep their text content (both engines, deterministically);
    a real boilerplate pass (``remove_boilerplate``) runs downstream.
    The entity table is a literal map expression (constant-folded
    JVM-side; ~1k entries), looked up once per entity-shaped token.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    ent_map = F.create_map(
        *[F.lit(x) for kv in _HTML_ENTITY_MAP.items() for x in kv]
    )
    toks = F.regexp_extract_all(s, F.lit(_HTML_ENT_TOKEN_RE), 0)
    dec = F.transform(
        toks,
        # gate the map lookup on the '&' prefix: non-entity runs (the
        # bulk of every document) skip the 1.1k-entry literal-map probe
        lambda t: F.when(
            t.startswith("&"), F.coalesce(F.try_element_at(ent_map, t), t)
        ).otherwise(t),
    )
    # decode is the identity on '&'-free text — skip the tokenize/
    # reassemble pass entirely for such rows (measured 2× on docs with
    # few entities; both branches produce identical bytes when '&' is
    # absent, so the oracle twin needs no mirror of this guard)
    s = F.when(s.contains("&"), F.array_join(dec, "")).otherwise(s)
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def strip_html_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`strip_html` (RE2 — the patterns use no
    backreferences or lookarounds by construction; the entity table is
    the same literal map)."""
    s = rf"regexp_replace({col_sql}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    s = rf"regexp_replace({s}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    s = rf"regexp_replace({s}, '(?s)<!--.*?-->', ' ', 'g')"
    s = rf"regexp_replace({s}, '<[^>]*>', ' ', 'g')"

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    entries = ", ".join(
        f"{q(k)}: {q(v)}" for k, v in _HTML_ENTITY_MAP.items()
    )
    # The lookup runs in a decorrelated scalar subquery, NOT a
    # list_transform lambda: DuckDB re-constructs constant expressions
    # inside lambdas per ELEMENT (measured 25 s / 500 docs for the
    # ~1.1k-entry map) but constant-folds them in a plain projection
    # (0.04 s). string_agg over zero tokens is NULL (Spark's array_join
    # is ''), so coalesce empty inputs back to '' while keeping NULL
    # inputs NULL, matching Spark's null propagation.
    joined = (
        f"(SELECT string_agg(coalesce(map_extract(MAP {{{entries}}}, "
        f"_toks[_i])[1], _toks[_i]), '' ORDER BY _i) "
        f"FROM (SELECT regexp_extract_all({s}, '{_HTML_ENT_TOKEN_RE}') "
        f"AS _toks) _ent_sub, unnest(range(1, len(_toks)+1)) AS _u(_i))"
    )
    s = (
        f"(CASE WHEN {col_sql} IS NULL THEN NULL "
        f"ELSE coalesce({joined}, '') END)"
    )
    return rf"trim(regexp_replace({s}, '\s+', ' ', 'g'))"


#: Sentence segmentation pattern: a run of non-terminator characters
#: followed by any run of terminators (which also swallows "..." and
#: "?!"); trailing terminator-less text forms a final sentence. No
#: backreferences/lookarounds — Java regex and RE2 agree byte-for-byte.
_SENT_RE = r"[^.!?]+[.!?]*"


def split_sentences(col: Column | str) -> Column:
    """Heuristic sentence segmentation → ``array<string>``: split on
    ``.``/``!``/``?`` runs, trim each piece, drop empties. The segmenter
    bitext mining and sentence-grain dedup consume — deliberately a
    deterministic rule set (no abbreviation lexicon: "Dr. Smith" splits;
    at corpus scale the downstream operators tolerate over-splitting,
    and a lexicon would make the oracle engine-dependent). 0-shuffle
    per-row projection; the DuckDB twin (`split_sentences_sql`) is
    byte-identical by construction.
    """
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(_SENT_RE), 0)
    # NOT transform(pieces, F.trim): transform passes (element, index)
    # and the two-arg trim(str, trimStr) signature silently consumes the
    # index as the trim character set — an explicit lambda pins 1-arg trim
    trimmed = F.transform(pieces, lambda s: F.trim(s))
    return F.filter(trimmed, lambda s: s != "")


def split_sentences_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`split_sentences`."""
    return (
        f"list_filter(list_transform(regexp_extract_all({col_sql}, "
        f"'{_SENT_RE}'), s -> trim(s)), s -> s <> '')"
    )


def sentence_chunks(df: DataFrame) -> DataFrame:
    """Explode each document into ordered sentences as
    ``(doc_id, pos, chunk)`` — the sentence-grain twin of
    :func:`doc_chunks`, so every chunk-grain operator (keep-first
    dedup, boilerplate removal, substring stores) runs at the grain
    OSCAR/CCNet line-level dedup actually uses. Pure projection +
    posexplode — no shuffle."""
    return df.select(
        "doc_id",
        F.posexplode(split_sentences(TEXT_COL)).alias("pos", "chunk"),
    )


def sentence_chunks_sql(table: str = DOCS_TABLE) -> str:
    """DuckDB twin of :func:`sentence_chunks` (lockstep multi-unnest,
    same pattern as :func:`doc_chunks_sql`)."""
    sents = split_sentences_sql(TEXT_COL)
    return f"""
    SELECT doc_id,
           unnest(range(len(sents))) AS pos,
           unnest(sents) AS chunk
    FROM (SELECT doc_id, {sents} AS sents FROM {table})
    """


def norm_text(col: Column | str) -> Column:
    """Lowercase + collapse runs of whitespace — canonical text form used
    by every hash/fingerprint so trivial formatting differences dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def norm_text_sql(col_sql: str) -> str:
    return rf"trim(regexp_replace(lower({col_sql}), '\s+', ' ', 'g'))"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish tokens: letter runs, digit runs, single punctuation marks
    over normalized text. DuckDB twin: ``regexp_extract_all(norm, re, 0)``."""
    return F.regexp_extract_all(norm_text(col), F.lit(BPE_RE), 0)


def bpe_tokens_sql(col_sql: str) -> str:
    return f"regexp_extract_all({norm_text_sql(col_sql)}, '{BPE_RE}', 0)"


#: Gopher repetition-filter thresholds (Rae et al. 2021, arXiv:
#: 2112.11446 §A1.1): documents above any of these are repetition junk.
REP_MAX_DUP_LINE_FRAC = 0.30
REP_MAX_DUP_LINE_CHAR_FRAC = 0.20
REP_MAX_TOP2GRAM_CHAR_FRAC = 0.20
REP_MAX_DUP_5GRAM_FRAC = 0.15


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1) — the
    quality-rule family :func:`gopher_filter` does NOT cover (that one
    is length/word-shape/stopwords): per document,

    - ``dup_line_frac`` — fraction of non-empty trimmed lines that are
      repeats of an earlier line (1 − distinct/total);
    - ``dup_line_char_frac`` — fraction of line characters carried by
      those repeated copies (1 − distinct-line chars / total line
      chars; the first occurrence counts as original);
    - ``top2gram_char_frac`` — characters covered by occurrences of the
      single most frequent word 2-gram ÷ normalized-text length (the
      boilerplate-phrase signal);
    - ``dup_5gram_frac`` — fraction of word 5-grams that are repeats
      within the document (count-fraction variant of the paper's
      duplicated-n-gram character fraction — rank-equivalent, exactly
      portable);
    - ``rep_keep`` — all four under the Gopher thresholds
      (:data:`REP_MAX_DUP_LINE_FRAC` …).

    NULL text canonicalizes to empty (degenerate docs get 0 fractions
    and keep=True here — length junk is :func:`gopher_filter`'s job),
    matching the engine-divergent-NULL lesson fuzz found in r5.

    Plan/scale: the line and 5-gram statistics are pure in-array
    expressions — 0 shuffles, linear per row. The top-2-gram mode needs
    per-(doc, gram) counts: explode → map-side-combined count → per-doc
    struct-max argmax (ties break toward the lexicographically LARGER
    gram in both engines via struct/tuple max) → broadcast-free join
    back on the doc key. DuckDB twin: :func:`repetition_stats_sql`.
    """
    c = F.coalesce(F.col(TEXT_COL), F.lit(""))
    # lambda, NOT bare F.trim: transform() inspects the callable's
    # arity, and F.trim's optional second parameter makes it pass the
    # ELEMENT INDEX as the trim-character set — silently trimming
    # nothing (caught via the two-parameter-TRIM deprecation warning)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    dlines = F.array_distinct(lines)
    n_lines = F.size(lines)
    chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    dup_line_frac = F.when(
        n_lines > 0,
        F.round((n_lines - F.size(dlines)).cast("double") / n_lines, 6),
    ).otherwise(F.lit(0.0))
    line_chars = chars(lines)
    dup_line_char_frac = F.when(
        line_chars > 0,
        F.round(
            (line_chars - chars(dlines)).cast("double") / line_chars, 6
        ),
    ).otherwise(F.lit(0.0))
    from streaming_etl_pipeline_spark.operators.dedup import ngrams_list

    g5 = ngrams_list(c, 5)
    dup_5gram_frac = F.when(
        F.size(g5) > 0,
        F.round(
            (F.size(g5) - F.size(F.array_distinct(g5))).cast("double")
            / F.size(g5),
            6,
        ),
    ).otherwise(F.lit(0.0))
    base = df.select(
        F.col(DOC_ID_COL),
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
        dup_5gram_frac.alias("dup_5gram_frac"),
        F.length(norm_text(c)).alias("_norm_chars"),
        ngrams_list(c, 2).alias("_g2"),
    )
    top2 = (
        base.select(DOC_ID_COL, F.explode("_g2").alias("g"))
        .groupBy(DOC_ID_COL, "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(DOC_ID_COL)
        .agg(F.max(F.struct(F.col("cnt"), F.col("g"))).alias("m"))
        .select(
            DOC_ID_COL,
            F.col("m.cnt").alias("_top_cnt"),
            F.length(F.col("m.g")).alias("_top_len"),
        )
    )
    top_frac = F.when(
        F.col("_norm_chars") > 0,
        F.round(
            F.coalesce(F.col("_top_cnt") * F.col("_top_len"), F.lit(0))
            .cast("double")
            / F.col("_norm_chars"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    out = base.join(top2, DOC_ID_COL, "left").select(
        DOC_ID_COL,
        "dup_line_frac",
        "dup_line_char_frac",
        top_frac.alias("top2gram_char_frac"),
        "dup_5gram_frac",
    )
    return out.withColumn(
        "rep_keep",
        (F.col("dup_line_frac") <= REP_MAX_DUP_LINE_FRAC)
        & (F.col("dup_line_char_frac") <= REP_MAX_DUP_LINE_CHAR_FRAC)
        & (F.col("top2gram_char_frac") <= REP_MAX_TOP2GRAM_CHAR_FRAC)
        & (F.col("dup_5gram_frac") <= REP_MAX_DUP_5GRAM_FRAC),
    )


def repetition_stats_sql(
    table: str = DOCS_TABLE,
    extra_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`repetition_stats`. ``extra_ctes`` (e.g.
    ``"docs_rep AS (...), "``) is spliced into the WITH list so callers
    can feed a derived table without nesting two WITH clauses."""
    from streaming_etl_pipeline_spark.operators.dedup import ngrams_list_sql

    c = f"coalesce({TEXT_COL}, '')"
    lines = (
        f"list_filter(list_transform(string_split({c}, chr(10)), "
        f"l -> trim(l)), l -> l <> '')"
    )
    g5 = ngrams_list_sql(c, 5)
    g2 = ngrams_list_sql(c, 2)
    lchars = "coalesce(list_sum(list_transform(ln, l -> length(l))), 0)"
    dchars = "coalesce(list_sum(list_transform(dln, l -> length(l))), 0)"
    return f"""
    WITH {extra_ctes}base AS (
      SELECT {DOC_ID_COL}, {lines} AS ln, list_distinct({lines}) AS dln,
             {g5} AS g5, {g2} AS g2,
             length({norm_text_sql(c)}) AS norm_chars
      FROM {table}
    ),
    linestats AS (
      SELECT {DOC_ID_COL},
        CASE WHEN len(ln) > 0 THEN
          round((len(ln) - len(dln))::DOUBLE / len(ln), 6) ELSE 0.0 END
          AS dup_line_frac,
        CASE WHEN {lchars} > 0 THEN
          round(({lchars} - {dchars})::DOUBLE / {lchars}, 6) ELSE 0.0 END
          AS dup_line_char_frac,
        CASE WHEN len(g5) > 0 THEN
          round((len(g5) - len(list_distinct(g5)))::DOUBLE / len(g5), 6)
          ELSE 0.0 END AS dup_5gram_frac,
        norm_chars, g2
      FROM base
    ),
    top2 AS (
      SELECT {DOC_ID_COL},
             max(struct_pack(cnt := cnt, g := g)) AS m
      FROM (SELECT {DOC_ID_COL}, g, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT {DOC_ID_COL}, unnest(g2) AS g FROM base)
            GROUP BY 1, 2)
      GROUP BY 1
    ),
    joined AS (
      SELECT l.{DOC_ID_COL}, l.dup_line_frac, l.dup_line_char_frac,
        CASE WHEN l.norm_chars > 0 THEN
          round(coalesce(t.m.cnt * length(t.m.g), 0)::DOUBLE
                / l.norm_chars, 6)
        ELSE 0.0 END AS top2gram_char_frac,
        l.dup_5gram_frac
      FROM linestats l LEFT JOIN top2 t ON l.{DOC_ID_COL} = t.{DOC_ID_COL}
    )
    SELECT *,
           dup_line_frac <= {REP_MAX_DUP_LINE_FRAC}
           AND dup_line_char_frac <= {REP_MAX_DUP_LINE_CHAR_FRAC}
           AND top2gram_char_frac <= {REP_MAX_TOP2GRAM_CHAR_FRAC}
           AND dup_5gram_frac <= {REP_MAX_DUP_5GRAM_FRAC} AS rep_keep
    FROM joined
    """


def text_stats(df: DataFrame) -> DataFrame:
    """Per-document quality metrics: char/token/BPE counts, average token
    length, punctuation & stopword & digit ratios, and a composite quality
    score in [0, 1]. The score formula is fixed and documented so the
    DuckDB oracle reproduces it exactly (see corpus_docs.q_text_stats).

    Staged projections (tokenize → counts → ratios → score): the quality
    score references ratios that reference tokenizations; without
    staging, each reference re-runs the normalize+split+regex array
    passes (no CSE for higher-order lambdas).
    """
    s = df.select("doc_id", norm_text(TEXT_COL).alias("_t_norm"))
    s = s.select(
        "doc_id",
        "_t_norm",
        tokenize(F.col("_t_norm")).alias("_t_toks"),
        F.regexp_extract_all(F.col("_t_norm"), F.lit(BPE_RE), 0).alias("_t_bpe"),
    )
    toks, bpe = F.col("_t_toks"), F.col("_t_bpe")
    s = s.select(
        "doc_id",
        F.length("_t_norm").alias("n_chars_norm"),
        F.size(toks).alias("n_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.filter(bpe, lambda t: t.rlike("^[^a-z0-9]$"))).alias("_punct"),
        F.size(F.filter(bpe, lambda t: t.rlike("^[0-9]+$"))).alias("_digits"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("_stop"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).alias(
            "_tok_chars"
        ),
    )
    n_tok, n_bpe = F.col("n_tokens"), F.col("n_bpe_tokens")
    s = s.select(
        "doc_id",
        "n_chars_norm",
        "n_tokens",
        "n_bpe_tokens",
        F.round(
            F.col("_tok_chars").cast("double") / F.greatest(n_tok, F.lit(1)), 6
        ).alias("avg_token_len"),
        F.round(
            F.col("_punct").cast("double") / F.greatest(n_bpe, F.lit(1)), 6
        ).alias("punct_ratio"),
        F.round(
            F.col("_digits").cast("double") / F.greatest(n_bpe, F.lit(1)), 6
        ).alias("digit_ratio"),
        F.round(
            F.col("_stop").cast("double") / F.greatest(n_tok, F.lit(1)), 6
        ).alias("stopword_ratio"),
    )
    # Quality heuristic: long enough, mostly alphabetic, tokens of sane
    # length. Mirrors C4/Gopher-style rule-based filters; weights fixed.
    quality = F.round(
        F.least(F.col("n_tokens").cast("double") / 50.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))) * 0.3
        + (1.0 - F.least(F.col("digit_ratio") * 4.0, F.lit(1.0))) * 0.1
        + F.when(
            (F.col("avg_token_len") >= 3.0) & (F.col("avg_token_len") <= 10.0),
            0.2,
        ).otherwise(0.0),
        6,
    )
    return s.select("*", quality.alias("quality_score"))


def language_id(df: DataFrame) -> DataFrame:
    """Deterministic language scorer: stopword profiles fused with a
    codepoint-script prior.

    Latin-script languages score as (# tokens found in the profile) /
    (# tokens). Unsegmented CJK text has no whitespace tokens for the
    stopword path to count, so the zh/ja/ko scores fuse a character-
    class fraction (:data:`CJK_SCRIPT_CLASSES`): ``ko`` = Hangul
    fraction, ``ja`` = (2·kana + han) / (2·chars) — kana weighs double
    so Japanese prose (kanji + kana mix) outscores the pure-Han reading
    while pure-Chinese text (no kana) still halves below its own ``zh``
    score — and ``zh`` = max(pinyin-stopword score, Han fraction).
    Prediction = argmax with fixed alphabetical tiebreak. Pure columnar
    expression — at 100 TB this is a projection, no shuffle.
    """
    toks = tokenize(norm_text(TEXT_COL))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    def in_profile(words: tuple[str, ...]):
        return lambda t: t.isin(*words)

    scores = {
        lang: F.round(
            F.size(F.filter(toks, in_profile(words))).cast("double") / n_tok,
            6,
        )
        for lang, words in sorted(LANG_PROFILES.items())
    }
    txt = F.coalesce(F.col(TEXT_COL), F.lit(""))
    n_chars = F.greatest(F.length(txt), F.lit(1)).cast("double")

    def _cnt(cls: str) -> Column:
        return (
            F.length(txt) - F.length(F.regexp_replace(txt, f"[{cls}]", ""))
        ).cast("double")

    han = _cnt(CJK_SCRIPT_CLASSES["han"])
    kana = _cnt(CJK_SCRIPT_CLASSES["kana"])
    hangul = _cnt(CJK_SCRIPT_CLASSES["hangul"])
    scores["zh"] = F.greatest(scores["zh"], F.round(han / n_chars, 6))
    scores["ja"] = F.round((2.0 * kana + han) / (2.0 * n_chars), 6)
    scores["ko"] = F.round(hangul / n_chars, 6)
    best_score = F.greatest(*scores.values())
    # argmax with a fixed alphabetical tiebreak: first language (in sorted
    # order) whose score equals the max — a plain CASE chain, identical in
    # the DuckDB oracle.
    predicted = F.lit(None).cast("string")
    for lang in sorted(scores, reverse=True):
        predicted = F.when(scores[lang] == best_score, lang).otherwise(predicted)
    return df.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        predicted.alias("lang_predicted"),
        best_score.alias("lang_score"),
        (predicted == F.col("lang")).alias("lang_match"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints: full-content md5 plus a winnowing-style
    min/max over rolling k-gram hashes (the min-hash of the shingle set is
    the classic rolling-hash document fingerprint; robust to prefix/suffix
    edits in a way the full hash is not).
    """
    from streaming_etl_pipeline_spark.operators.dedup import shingles

    sh = shingles(TEXT_COL, 3)
    sh_hashes = F.transform(sh, lambda s: md5_long(s))
    return df.select(
        "doc_id",
        F.md5(norm_text(TEXT_COL)).alias("content_md5"),
        F.array_min(sh_hashes).alias("min_shingle_hash"),
        F.array_max(sh_hashes).alias("max_shingle_hash"),
        F.size(sh).alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Corpus curation: chunk-level boilerplate removal + Gopher-style filter
# ---------------------------------------------------------------------------

#: Words per chunk for boilerplate segmentation. The test corpus is
#: single-line word soup, so the segmenter is fixed-width word windows;
#: a web corpus would segment on '\n' (C4) or sentences instead — the
#: pipeline downstream of the segmenter is identical.
CHUNK_WORDS = 10


def doc_chunks(df: DataFrame) -> DataFrame:
    """Explode each document into ordered fixed-width word chunks:
    ``(doc_id, pos, chunk)``. Pure projection + explode — no shuffle."""
    words = F.split(norm_text(TEXT_COL), " ")
    n_chunks = F.ceil(F.size(words) / CHUNK_WORDS).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "),
    )
    return df.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))


def doc_chunks_sql(table: str = DOCS_TABLE) -> str:
    """DuckDB twin of :func:`doc_chunks` (lockstep multi-unnest)."""
    words = f"string_split({norm_text_sql(TEXT_COL)}, ' ')"
    return f"""
    SELECT doc_id,
           unnest(range(CAST(ceil(len({words}) / {CHUNK_WORDS}.0) AS INT))) AS pos,
           unnest(list_transform(
             range(CAST(ceil(len({words}) / {CHUNK_WORDS}.0) AS INT)),
             i -> array_to_string(list_slice({words},
                    i * {CHUNK_WORDS} + 1, i * {CHUNK_WORDS} + {CHUNK_WORDS}), ' ')
           )) AS chunk
    FROM {table}
    """


def remove_boilerplate(
    df: DataFrame,
    min_doc_freq: int = 2,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """C4-style cross-document boilerplate removal, chunk granularity.

    A chunk appearing in ≥ ``min_doc_freq`` DISTINCT documents is
    boilerplate (navigation, footers, licence blocks — here, the
    synthetic twin texts); every occurrence is dropped and each doc is
    reassembled from its surviving chunks in order.

    Shape at scale: one shuffle to compute chunk document-frequency
    (map-side combine on the chunk hash), one shuffle to rebuild docs —
    both keyed on uniform hashes, skew-free. The corpus text crosses the
    wire as chunks, not whole docs.

    Output: ``doc_id, n_chunks, n_kept, n_removed, clean_md5`` — the
    rebuilt text is hashed rather than carried so the result stays
    driver-canonicalizable at any document size.

    ``chunks=`` accepts a pre-built (ideally persisted)
    :func:`doc_chunks` frame so carriers running several chunk-grain
    operators over the same corpus explode the text exactly once.
    """
    if chunks is None:
        chunks = doc_chunks(df)
    freq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("chunk_df")
    )
    flagged = chunks.join(freq, "chunk")
    rebuilt = (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("chunk_df") < min_doc_freq).cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("chunk_df") < min_doc_freq,
                                    F.struct("pos", "chunk"),
                                )
                            )
                        ),
                        lambda s: s["chunk"],
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
        .withColumn("n_removed", F.col("n_chunks") - F.col("n_kept"))
        .select("doc_id", "n_chunks", "n_kept", "n_removed", "clean_md5")
    )
    return rebuilt


def remove_boilerplate_sql(
    table: str = DOCS_TABLE,
    min_doc_freq: int = 2,
    extra_ctes: str = "",
) -> str:
    """DuckDB oracle twin of :func:`remove_boilerplate`. ``extra_ctes``
    (e.g. ``"docs AS (...), "``) lets callers prepend the CTE that
    defines ``table``."""
    return f"""
    WITH {extra_ctes}chunks AS ({doc_chunks_sql(table)}),
    freq AS (
      SELECT chunk, count(DISTINCT doc_id) AS chunk_df FROM chunks GROUP BY chunk
    ),
    flagged AS (SELECT c.*, f.chunk_df FROM chunks c JOIN freq f USING (chunk))
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN chunk_df < {min_doc_freq} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           count(*) - CAST(sum(CASE WHEN chunk_df < {min_doc_freq} THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(coalesce(string_agg(CASE WHEN chunk_df < {min_doc_freq} THEN chunk END,
                                   ' ' ORDER BY pos), '')) AS clean_md5
    FROM flagged
    GROUP BY doc_id
    """


#: Gopher-style quality rules (Rae et al. 2021, table A1 — thresholds
#: adapted to the synthetic corpus' word statistics).
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 90
GOPHER_MIN_MEAN_WORD_LEN = 4.2
GOPHER_MAX_MEAN_WORD_LEN = 4.8
GOPHER_STOPWORDS = ("the", "a", "value", "table", "data")
GOPHER_MIN_STOP_HITS = 2
#: Max fraction of duplicate word 2-grams (Gopher's repetition family —
#: templated/spun text repeats phrases). Corpus p99 is ~0.10; 0.12 drops
#: only the extreme tail.
GOPHER_MAX_DUP_2GRAM = 0.12


def gopher_filter(
    df: DataFrame, text_col: str = TEXT_COL, keep_cols: bool = False
) -> DataFrame:
    """Gopher-style document quality filter: word-count window, mean
    word length window, minimum distinct-stopword presence. Pure
    projection (0 shuffles); each rule is surfaced as its own flag so a
    pipeline can log WHY a document was dropped.

    ``keep_cols=True`` carries every input column alongside the flags —
    pipelines (and streams, where a re-join would be a stream-stream
    join) filter on ``keep`` directly with no join.

    Built as STAGED projections (norm → words → grams → metrics →
    flags): higher-order-function lambdas get no common-subexpression
    elimination, so inlining the gram build into three flag expressions
    re-runs the whole array pass per reference — staging measured
    2.66 s → 0.91 s (2.9×) on 80k docs.
    """
    in_cols = list(df.columns)
    # NULL text canonicalizes to '' so every flag is a definite boolean
    # (NULL-propagated flags diverge between engines: Spark's NULL & x
    # stays NULL where the twin's CASE-summed stop_hits=0 forces
    # keep=false — found by test_fuzz_dsir_text_perturbations)
    norm = norm_text(F.coalesce(F.col(text_col), F.lit("")))
    s = df.select("*", norm.alias("_g_norm"))
    s = s.select("*", F.split(F.col("_g_norm"), " ").alias("_g_words"))
    n_words = F.size(F.col("_g_words"))
    # length must be size(words): a constant INT_MAX length overflows
    # start+length inside slice and silently yields an empty array
    grams = F.filter(
        F.zip_with(
            F.col("_g_words"),
            F.slice(F.col("_g_words"), 2, F.greatest(n_words, F.lit(1))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda g: g.isNotNull(),
    )
    s = s.select("*", n_words.alias("_g_nw"), grams.alias("_g_grams"))
    nonspace = F.length(F.regexp_replace(F.col("_g_norm"), " ", ""))
    mean_wl = F.round(nonspace / F.col("_g_nw"), 6)
    n_grams = F.size(F.col("_g_grams"))
    dup2 = F.when(
        n_grams > 0,
        F.round(1 - F.size(F.array_distinct(F.col("_g_grams"))) / n_grams, 6),
    ).otherwise(F.lit(0.0))
    stop_hits = sum(
        (
            F.concat(F.lit(" "), F.col("_g_norm"), F.lit(" ")).contains(
                f" {w} "
            )
        ).cast("int")
        for w in GOPHER_STOPWORDS
    )
    lead = in_cols if keep_cols else ["doc_id"]
    s = s.select(
        *lead,
        F.col("_g_nw").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_hits.cast("int").alias("stop_hits"),
        dup2.alias("dup_2gram_frac"),
    )
    pass_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    pass_wl = (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN) & (
        F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN
    )
    pass_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    pass_rep = F.col("dup_2gram_frac") <= GOPHER_MAX_DUP_2GRAM
    return s.select(
        "*",
        pass_words.alias("pass_word_count"),
        pass_wl.alias("pass_word_len"),
        pass_stop.alias("pass_stopwords"),
        pass_rep.alias("pass_repetition"),
        (pass_words & pass_wl & pass_stop & pass_rep).alias("keep"),
    )


def gopher_filter_sql(table: str = DOCS_TABLE) -> str:
    """DuckDB oracle twin of :func:`gopher_filter`."""
    norm = norm_text_sql(f"COALESCE({TEXT_COL}, '')")
    stop_sum = " + ".join(
        f"CASE WHEN ' ' || {norm} || ' ' LIKE '% {w} %' THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS
    )
    toks = f"string_split({norm}, ' ')"
    grams = (
        f"list_transform(range(1, len({toks})), "
        f"i -> ({toks})[i] || ' ' || ({toks})[i + 1])"
    )
    dup2 = (
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"round(1 - len(list_distinct({grams})) * 1.0 / len({grams}), 6) "
        f"ELSE 0.0 END"
    )
    return f"""
    WITH g AS (
      SELECT doc_id,
             len({toks}) AS n_words,
             round(length(replace({norm}, ' ', ''))
                   * 1.0 / len({toks}), 6) AS mean_word_len,
             CAST(({stop_sum}) AS INT) AS stop_hits,
             {dup2} AS dup_2gram_frac
      FROM {table}
    )
    SELECT doc_id, n_words, mean_word_len, stop_hits, dup_2gram_frac,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS pass_word_count,
           mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN} AS pass_word_len,
           stop_hits >= {GOPHER_MIN_STOP_HITS} AS pass_stopwords,
           dup_2gram_frac <= {GOPHER_MAX_DUP_2GRAM} AS pass_repetition,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN})
             AND stop_hits >= {GOPHER_MIN_STOP_HITS}
             AND dup_2gram_frac <= {GOPHER_MAX_DUP_2GRAM} AS keep
    FROM g
    """


def hashed_features(
    df: DataFrame,
    dim: int = 64,
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009 — public
    algorithm): token → md5 bucket in [0, dim) → per-(doc, bucket)
    count. The sparse bag-of-hashed-words every cheap classifier /
    nearest-neighbor baseline wants, with no vocabulary table to build,
    broadcast, or keep consistent across a 1000-executor cluster — the
    hash IS the vocabulary. Explode + one uniform-key count shuffle.
    """
    from streaming_etl_pipeline_spark.functions.core import md5_long, tokenize

    ex = df.select(
        DOC_ID_COL, F.explode(tokenize(norm_text(TEXT_COL))).alias("_tok")
    )
    return (
        ex.select(
            DOC_ID_COL, (md5_long("_tok", "feat") % dim).alias("dim_idx")
        )
        .groupBy(DOC_ID_COL, "dim_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hashed_feature_profile(df: DataFrame, dim: int = 64) -> DataFrame:
    """Doc-grain rollup of :func:`hashed_features`: dims used, L1/L2
    mass, and an md5 over the ordered (dim:cnt) pairs that pins every
    bucket count exactly for the differential gate."""
    feats = hashed_features(df, dim=dim)
    pairs = F.transform(
        F.sort_array(F.collect_list(F.struct("dim_idx", "cnt"))),
        lambda s: F.concat(
            s.dim_idx.cast("string"), F.lit(":"), s.cnt.cast("string")
        ),
    )
    return feats.groupBy(DOC_ID_COL).agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum("cnt").alias("l1_tokens"),
        F.round(F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))), 6).alias("l2_norm"),
        F.md5(F.array_join(pairs, ",")).alias("feature_md5"),
    )


# ---------------------------------------------------------------------------
# Character-trigram language-model quality scoring (CCNet-style)
# ---------------------------------------------------------------------------


def charlm_scores(
    df: DataFrame, id_col: str = DOC_ID_COL, text_col: str = TEXT_COL
) -> DataFrame:
    """Per-document LM typicality score from a char-trigram model trained
    on the corpus itself — the zero-dependency analog of CCNet's KenLM
    perplexity filter: documents whose character statistics diverge from
    the corpus (mojibake, binary spill, boilerplate codes) score low.

    Model: MLE trigram probability p(t) = count(t) / count(prefix2(t))
    over normalized text. Score: count-weighted mean of p over the doc's
    trigrams (higher = more corpus-typical). No log: probabilities are
    kept as round(c3/c2, 9) DECIMAL(12,9) and summed in decimal so the
    accumulation is order-independent and the DuckDB oracle reproduces
    it bit-for-bit (IEEE division + a fixed round are engine-portable;
    ``ln`` is not guaranteed correctly rounded everywhere).

    Scale (100 TB): the trigram explode is map-side-combined into
    per-(doc, trigram) counts before any network hop; the model tables
    are vocabulary-bounded (≤ charset³ rows) so the scoring join is a
    broadcast; the only data-sized shuffles are keyed by (doc, trigram)
    and doc — uniform, no skew. The per-(doc,trigram) table is persisted
    once and feeds model training AND scoring, so the text is exploded
    exactly once.
    """
    from pyspark import StorageLevel

    s = df.select(id_col, norm_text(text_col).alias("_n")).filter(
        F.length("_n") >= 3
    )
    tri = s.select(
        id_col,
        F.explode(
            F.expr("transform(sequence(1, length(_n) - 2), p -> substring(_n, p, 3))")
        ).alias("t"),
    )
    doc_tri = (
        tri.groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    model3 = doc_tri.groupBy("t").agg(F.sum("c").alias("c3"))
    model2 = doc_tri.groupBy(F.substring("t", 1, 2).alias("b")).agg(
        F.sum("c").alias("c2")
    )
    probs = (
        model3.join(model2, F.substring(model3["t"], 1, 2) == model2["b"])
        .select(
            "t",
            F.round(F.col("c3") * 1.0 / F.col("c2"), 9)
            .cast("decimal(12,9)")
            .alias("p"),
        )
    )
    scored = (
        doc_tri.join(F.broadcast(probs), "t")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_trigrams"),
            F.sum(F.col("c") * F.col("p")).alias("_sp"),
        )
    )
    return scored.select(
        id_col,
        "n_trigrams",
        F.round(
            F.col("_sp").cast("double") / F.col("n_trigrams").cast("double"), 6
        ).alias("avg_tri_p"),
    )


def charlm_scores_sql(docs_sql: str) -> str:
    """DuckDB twin of :func:`charlm_scores` over ``docs_sql`` (a relation
    with ``doc_id`` and ``text`` columns)."""
    norm = norm_text_sql("text")
    return f"""
    WITH nb AS (SELECT {DOC_ID_COL}, {norm} AS n FROM {docs_sql}),
         base AS (SELECT {DOC_ID_COL}, n FROM nb WHERE length(n) >= 3),
         pos AS (SELECT {DOC_ID_COL}, n,
                        unnest(range(1, length(n) - 1)) AS p
                 FROM base),
         tri AS (SELECT {DOC_ID_COL}, substr(n, CAST(p AS INT), 3) AS t FROM pos),
         doc_tri AS (SELECT {DOC_ID_COL}, t, count(*) AS c
                     FROM tri GROUP BY {DOC_ID_COL}, t),
         model3 AS (SELECT t, CAST(sum(c) AS BIGINT) AS c3
                    FROM doc_tri GROUP BY t),
         model2 AS (SELECT substr(t, 1, 2) AS b, CAST(sum(c) AS BIGINT) AS c2
                    FROM doc_tri GROUP BY substr(t, 1, 2)),
         probs AS (SELECT t,
                          CAST(round(c3 * 1.0 / c2, 9) AS DECIMAL(12,9)) AS p
                   FROM model3 JOIN model2 ON substr(model3.t, 1, 2) = model2.b),
         scored AS (SELECT {DOC_ID_COL}, CAST(sum(c) AS BIGINT) AS n_trigrams,
                           sum(c * p) AS sp
                    FROM doc_tri JOIN probs USING (t) GROUP BY {DOC_ID_COL})
    SELECT {DOC_ID_COL}, n_trigrams,
           round(CAST(sp AS DOUBLE) / CAST(n_trigrams AS DOUBLE), 6) AS avg_tri_p
    FROM scored
    """


# ---------------------------------------------------------------------------
# Unicode script-mix profiling (language-ID confidence / mojibake guard)
# ---------------------------------------------------------------------------

#: Character classes counted by :func:`script_mix`. Explicit codepoint
#: ranges (never ``\\p{IsCyrillic}`` / ``\\s``) because Java regex and
#: DuckDB's RE2 must agree byte-for-byte; ranges are embedded as literal
#: characters, which both engines treat as codepoint ranges in a class.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "A-Za-z"),
    ("digit", "0-9"),
    ("space", " \t\n\r"),
    ("cyrillic", f"{chr(0x0400)}-{chr(0x04FF)}"),
    ("cjk", f"{chr(0x4E00)}-{chr(0x9FFF)}"),
)


def script_mix(df: DataFrame) -> DataFrame:
    """Per-document Unicode script composition + dominant script.

    Web-scale corpora mix scripts within one "language" bucket —
    mojibake, spam, wrong-language boilerplate. CCNet-style pipelines
    gate language-ID on a script-composition check: a ``lang='ru'`` doc
    that is 90% Latin is suspect. Counts per codepoint class (Latin,
    digit, space, Cyrillic, CJK, other), 6dp ratios, and the dominant
    script with a fixed priority order for ties.

    0-shuffle per-row projection. Each count is ``length(text) −
    length(text with the class deleted)`` — counting the class
    DIRECTLY, not via its complement ``[^cls]``: regexp_replace cost is
    per MATCH, so five complement classes match ~4× every character,
    measured 8× slower than one pass (500k-doc probe). The three ASCII
    classes use ``translate`` (a char-map pass, no regex at all); the
    range classes use the positive class, whose total matches across a
    document sum to ≤ n_chars. Both engines count CODEPOINTS (Spark
    UTF8String.numChars, DuckDB utf8proc), so supplementary-plane
    characters agree. NULL text is canonicalized to '' first (NULL
    propagation differs between engines — the gopher fuzz lesson).
    """
    import string

    txt = F.coalesce(F.col(TEXT_COL), F.lit(""))
    n = F.length(txt)
    ascii_chars = {
        "latin": string.ascii_letters,
        "digit": string.digits,
        "space": " \t\n\r",
    }
    counts = {
        name: n
        - F.length(
            F.translate(txt, ascii_chars[name], "")
            if name in ascii_chars
            else F.regexp_replace(txt, f"[{cls}]", "")
        )
        for name, cls in SCRIPT_CLASSES
    }
    dom = (
        F.when(F.col("n_latin") >= F.greatest("n_cyrillic", "n_cjk"), "latin")
        .when(F.col("n_cyrillic") >= F.col("n_cjk"), "cyrillic")
        .otherwise("cjk")
    )
    out = df.select(
        "doc_id",
        n.alias("n_chars"),
        *[counts[name].alias(f"n_{name}") for name, _ in SCRIPT_CLASSES],
    ).withColumn(
        "n_other",
        F.col("n_chars")
        - sum(F.col(f"n_{name}") for name, _ in SCRIPT_CLASSES),
    )
    for name, _ in SCRIPT_CLASSES:
        out = out.withColumn(
            f"{name}_frac",
            F.round(F.try_divide(F.col(f"n_{name}"), F.col("n_chars")), 6),
        )
    return out.withColumn("dominant_script", dom)


def script_mix_sql(table: str = DOCS_TABLE) -> str:
    """DuckDB oracle twin of :func:`script_mix` (RE2 'g'-flag replace,
    same direct-class counting; ``x/0`` is NULL in DuckDB, matching
    Spark's ``try_divide``)."""
    txt = f"coalesce({TEXT_COL}, '')"
    count_exprs = ",\n           ".join(
        f"length({txt}) - length(regexp_replace({txt}, '[{cls}]', '', 'g'))"
        f" AS n_{name}"
        for name, cls in SCRIPT_CLASSES
    )
    frac_exprs = ",\n           ".join(
        f"round(n_{name} * 1.0 / nullif(n_chars, 0), 6) AS {name}_frac"
        for name, _ in SCRIPT_CLASSES
    )
    total = " + ".join(f"n_{name}" for name, _ in SCRIPT_CLASSES)
    return f"""
    WITH counts AS (
      SELECT doc_id,
           length({txt}) AS n_chars,
           {count_exprs}
      FROM {table}
    )
    SELECT doc_id, n_chars,
           {", ".join(f"n_{name}" for name, _ in SCRIPT_CLASSES)},
           n_chars - ({total}) AS n_other,
           {frac_exprs},
           CASE WHEN n_latin >= greatest(n_cyrillic, n_cjk) THEN 'latin'
                WHEN n_cyrillic >= n_cjk THEN 'cyrillic'
                ELSE 'cjk' END AS dominant_script
    FROM counts
    """


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


def perplexity_buckets(df: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2019 §4.3): rank
    each language's documents by LM typicality and cut into
    ``PERPLEXITY_BUCKETS`` equal tiles — head = most corpus-typical
    third, the slice CCNet ships as the highest-quality subset; tail =
    candidates for dropping.

    Scoring reuses :func:`charlm_scores` (char-trigram LM; higher
    ``avg_tri_p`` = more typical = "lower perplexity"). The tile is
    ``ntile`` over the strict total order ``(avg_tri_p DESC, doc_id)``
    partitioned by language, so assignment is deterministic and the
    DuckDB twin reproduces it exactly (both engines implement standard
    SQL ntile: earlier tiles take the remainder).

    Scale: charlm's shuffles are (doc,trigram)/doc-keyed and uniform;
    the ntile adds ONE exchange keyed by language. Languages are few →
    per-partition sort of doc-grain rows; for a skewed monolingual
    corpus swap the window for a two-pass approx-quantile cut — at that
    point exact tile boundaries stop mattering.

    Output: ``(doc_id, lang, n_trigrams, avg_tri_p, ppl_tile,
    ppl_bucket)`` with bucket labels head/middle/tail for 3 tiles (tile
    numbers otherwise).
    """
    from pyspark.sql import Window

    scored = charlm_scores(df).join(
        df.select(DOC_ID_COL, LANG_COL), DOC_ID_COL
    )
    w = Window.partitionBy(LANG_COL).orderBy(
        F.col("avg_tri_p").desc(), F.col(DOC_ID_COL).asc()
    )
    tile = F.ntile(PERPLEXITY_BUCKETS).over(w)
    label = (
        F.when(F.col("ppl_tile") == 1, "head")
        .when(F.col("ppl_tile") == 2, "middle")
        .otherwise("tail")
        if PERPLEXITY_BUCKETS == 3
        else F.concat(F.lit("tile_"), F.col("ppl_tile").cast("string"))
    )
    return scored.select(
        DOC_ID_COL, LANG_COL, "n_trigrams", "avg_tri_p", tile.alias("ppl_tile")
    ).withColumn("ppl_bucket", label)


def perplexity_buckets_sql(table: str = DOCS_TABLE) -> str:
    """DuckDB oracle twin of :func:`perplexity_buckets`."""
    label = (
        "CASE ppl_tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' "
        "ELSE 'tail' END"
        if PERPLEXITY_BUCKETS == 3
        else "'tile_' || CAST(ppl_tile AS VARCHAR)"
    )
    return f"""
    WITH lm AS ({charlm_scores_sql(table)}),
    tiled AS (
      SELECT lm.{DOC_ID_COL}, t.{LANG_COL}, lm.n_trigrams, lm.avg_tri_p,
             ntile({PERPLEXITY_BUCKETS}) OVER (
               PARTITION BY t.{LANG_COL}
               ORDER BY lm.avg_tri_p DESC, lm.{DOC_ID_COL} ASC
             ) AS ppl_tile
      FROM lm JOIN {table} t USING ({DOC_ID_COL})
    )
    SELECT {DOC_ID_COL}, {LANG_COL}, n_trigrams, avg_tri_p, ppl_tile,
           {label} AS ppl_bucket
    FROM tiled
    """


def char_entropy(df: DataFrame) -> DataFrame:
    """Per-document Shannon entropy over the codepoint distribution —
    the classic cheap junk detector (RefinedWeb-style heuristics): very
    LOW entropy flags repetition/padding junk ("aaaa…", banner art),
    abnormally HIGH entropy flags binary spill / encrypted blobs that
    slipped past charset sniffing. Complements the repetition stats
    (n-gram level) and charlm (sequence level) with a distribution-
    level signal.

    Exact per-codepoint entropy (no fixed alphabet): chars explode to a
    (doc, char) count frame — the same map-side-combined shape as
    charlm's trigram grain — then the INTEGER-ARGUMENT form
    ``H = ln(N) − (Σ n_c·ln(n_c)) / N``. The form matters for engine
    parity: ``ln`` is libm-dependent in the last ulp, so a gate must
    bound how many DISTINCT arguments it evaluates — here every
    argument is a small integer count (≤ the longest doc), giving a
    few hundred distinct evaluations per corpus instead of one per
    (doc, char) ratio, and the companion unit test proves every
    ``ln(k)`` up to 1M sits ≥100 ulps from a 6 dp rounding boundary
    (worst case k=132979 at ~204 ulps), so libms that agree within a
    few ulps can never flip one. Each
    ``ln(n)`` is pre-rounded to 6 dp, the Σ accumulates n·ln(n) in
    DECIMAL (order-independent), and the final entropy is rounded to
    6 dp. Empty/NULL docs score 0.0 (no distribution).

    Output: ``(doc_id, n_chars, entropy)`` — nats, not bits.

    Scale: two shuffles, both keyed by doc (uniform); per-doc state is
    its distinct-codepoint histogram, bounded by the doc's alphabet.
    """
    base = df.select(DOC_ID_COL, F.coalesce(F.col(TEXT_COL), F.lit("")).alias("_t"))
    chars = base.select(
        DOC_ID_COL, F.explode(F.split("_t", "")).alias("_c")
    ).filter(F.col("_c") != "")
    counts = chars.groupBy(DOC_ID_COL, "_c").agg(F.count(F.lit(1)).alias("_n"))
    # per-doc total as an analytic over the count frame: reuses the
    # (doc)-compatible partitioning instead of a self-join (which would
    # also trip Spark's ambiguous-lineage resolution)
    # n·round(ln(n), 6) with n INTEGER: the 6dp-rounded ln is exactly
    # representable in DECIMAL(16,6), the integer product stays exact,
    # and the sum is order-independent
    term = F.col("_n") * F.round(F.log(F.col("_n").cast("double")), 6).cast(
        "decimal(16,6)"
    )
    ent = counts.groupBy(DOC_ID_COL).agg(
        F.sum("_n").alias("n_chars"),
        F.sum(term).alias("_snln"),
    ).select(
        DOC_ID_COL,
        "n_chars",
        F.round(
            F.round(F.log(F.col("n_chars").cast("double")), 6)
            - F.col("_snln").cast("double") / F.col("n_chars").cast("double"),
            6,
        ).alias("entropy"),
    )
    return (
        base.select(DOC_ID_COL)
        .join(ent, DOC_ID_COL, "left")
        .select(
            DOC_ID_COL,
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
        )
    )


def char_entropy_sql(table: str = DOCS_TABLE) -> str:
    """DuckDB oracle twin of :func:`char_entropy`."""
    return f"""
    WITH base AS (
      SELECT {DOC_ID_COL}, coalesce(text, '') AS t FROM {table}
    ),
    chars AS (
      SELECT {DOC_ID_COL}, unnest(string_split(t, '')) AS c
      FROM base WHERE length(t) > 0
    ),
    counts AS (
      SELECT {DOC_ID_COL}, c, count(*) AS n FROM chars GROUP BY {DOC_ID_COL}, c
    ),
    ent AS (
      SELECT {DOC_ID_COL}, CAST(sum(n) AS BIGINT) AS n_chars,
             sum(n * CAST(round(ln(n::DOUBLE), 6) AS DECIMAL(16,6)))
               AS snln
      FROM counts GROUP BY {DOC_ID_COL}
    ),
    ent2 AS (
      SELECT {DOC_ID_COL}, n_chars,
             round(round(ln(n_chars::DOUBLE), 6)
                   - CAST(snln AS DOUBLE) / n_chars::DOUBLE, 6) AS entropy
      FROM ent
    )
    SELECT base.{DOC_ID_COL},
           CAST(coalesce(ent2.n_chars, 0) AS BIGINT) AS n_chars,
           coalesce(ent2.entropy, 0.0) AS entropy
    FROM base LEFT JOIN ent2 USING ({DOC_ID_COL})
    """
