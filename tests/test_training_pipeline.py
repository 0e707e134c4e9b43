"""End-to-end test of pipelines/training_data.curate_corpus: every gate
(quality, exact dedup, near dedup, decontamination, redaction, split,
chunking) exercised by a handcrafted corpus with one victim per gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.pipelines.training_data import curate_corpus

_PROBE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _base_tokens(d: int) -> list[str]:
    """40 tokens passing every Gopher rule: 2 stopword hits, mean word
    length (3+4+19*4+19*5)/40 = 4.45 ∈ [4.2, 4.8]. The q-tokens carry
    the doc index so distinct docs are far apart in Jaccard space."""
    four = [f"w{i:03d}" for i in range(19)]
    five = [f"q{d}{j:02d}x" for j in range(19)]
    return ["the", "data"] + four + five


def _corpus(spark):
    base0 = " ".join(_base_tokens(0))
    near0 = " ".join(_base_tokens(0)[:-1] + ["zzzzz"])
    rows = [
        (0, base0),                                      # canonical survivor
        (1, base0),                                      # exact dup of 0
        (2, near0),                                      # near dup of 0
        (3, " ".join(_base_tokens(3)) + " contact bob@example.com"),  # PII
        (4, " ".join(_base_tokens(4)) + " " + _PROBE),   # contaminated
        (5, " ".join(_base_tokens(5))),                  # clean survivor
        (6, "too few words here"),                       # fails quality
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_all_gates(spark, tmp_path):
    out = str(tmp_path / "training")
    bench = spark.createDataFrame([(_PROBE,)], "text string")
    res = curate_corpus(spark, _corpus(spark), out, benchmark=bench)

    m = res.metrics
    assert m["input_docs"] == 7
    assert m["after_quality"] == 6          # doc 6 dropped
    assert m["after_exact_dedup"] == 5      # doc 1 dropped
    assert m["after_near_dedup"] == 4       # doc 2 dropped
    assert m["after_decontamination"] == 3  # doc 4 dropped
    assert m["final_docs"] == 3             # docs 0, 3, 5
    # 40-token docs → 2 chunks (32 + 16); the PII doc has 42 tokens
    # post-redaction ("contact <email>") → 2 chunks (32 + 18)
    assert m["chunks_written"] == 6
    assert m["tokens_written"] == 48 + 48 + 50

    back = spark.read.parquet(out)
    assert back.count() == 6
    assert set(r.doc_id for r in back.select("doc_id").distinct().collect()) == {
        0, 3, 5,
    }
    # the PII never reaches the output; the placeholder does
    pii_chunks = back.filter(F.col("chunk_text").contains("bob@example.com"))
    assert pii_chunks.count() == 0
    assert back.filter(F.col("chunk_text").contains("<email>")).count() == 1
    # split column is materialized as a partition and deterministic
    rerun = str(tmp_path / "training2")
    curate_corpus(spark, _corpus(spark), rerun, benchmark=bench)
    a = {(r.doc_id, r.chunk_id): r.split for r in back.collect()}
    b = {
        (r.doc_id, r.chunk_id): r.split
        for r in spark.read.parquet(rerun).collect()
    }
    assert a == b


def test_curate_corpus_no_benchmark_skips_gate(spark, tmp_path):
    out = str(tmp_path / "training_nb")
    res = curate_corpus(spark, _corpus(spark), out)
    assert "after_decontamination" not in res.metrics
    assert res.metrics["final_docs"] == 4  # contaminated doc 4 stays


def test_curate_corpus_star_cc_identical_output(spark, tmp_path):
    """cc_algorithm='star' must produce byte-identical curated output to
    the default label propagation — same canonical keepers, same chunks."""
    a, b = str(tmp_path / "t_lp"), str(tmp_path / "t_star")
    res_a = curate_corpus(spark, _corpus(spark), a)
    res_b = curate_corpus(spark, _corpus(spark), b, cc_algorithm="star")
    assert res_a.metrics == res_b.metrics
    rows = lambda p: {  # noqa: E731
        tuple(r) for r in spark.read.parquet(p).collect()
    }
    assert rows(a) == rows(b)


def test_cli_curate_on_corpus_table(spark, tmp_path, capsys):
    """Drive the curate subcommand end-to-end on the real sf0.001
    documents table (chunk sizes scaled down to its short docs)."""
    import json

    from streaming_etl_pipeline_spark.pipelines.run import main

    out = str(tmp_path / "training")
    rc = main(
        [
            "curate",
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--max-tokens", "32",
            "--overlap", "8",
        ]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["curate.input_docs"] > 0
    assert 0 < metrics["curate.final_docs"] <= metrics["curate.input_docs"]
    assert metrics["curate.chunks_written"] >= metrics["curate.final_docs"]
    back = spark.read.parquet(out)
    assert set(back.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test",
    }


def test_cli_scd2_cdc_diff_zorder_roundtrip(spark, tmp_path, capsys):
    """Drive the four round-3 maintenance subcommands end-to-end:
    scd2 history from a change log, cdc-apply of a batch, diff of the
    before/after snapshots, and a z-ordered rewrite."""
    import json

    from pyspark.sql import Row

    from streaming_etl_pipeline_spark.pipelines.run import main

    def run(args):
        rc = main(args)
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    chg = str(tmp_path / "changes")
    spark.createDataFrame(
        [
            Row(k=1, status="A", ts=1, op="upsert"),
            Row(k=1, status="B", ts=2, op="upsert"),
            Row(k=2, status="A", ts=1, op="upsert"),
            Row(k=2, status="A", ts=2, op="upsert"),  # no-op for SCD2
            Row(k=2, status=None, ts=3, op="delete"),
        ]
    ).write.parquet(chg)

    m = run(["scd2", "--input", chg, "--output", str(tmp_path / "hist"),
             "--key", "k", "--attrs", "status", "--ts-col", "ts"])
    assert m["scd2.versions"] == 4 and m["scd2.current"] == 2

    snap = str(tmp_path / "snap")
    spark.createDataFrame([Row(k=1, status="old"), Row(k=3, status="x")]).write.parquet(snap)
    m = run(["cdc-apply", "--snapshot", snap, "--changes", chg,
             "--output", str(tmp_path / "applied"), "--key", "k",
             "--ts-col", "ts", "--payload-cols", "status"])
    # k=1 -> B (latest upsert), k=2 -> deleted (never lands), k=3 untouched
    assert m["cdc.output_rows"] == 2

    m = run(["diff", "--old", snap, "--new", str(tmp_path / "applied"),
             "--output", str(tmp_path / "d"), "--key", "k"])
    assert m["diff.changed"] == 1 and m["diff.added"] == 0 and m["diff.removed"] == 0

    m = run(["zorder", "--input", chg, "--output", str(tmp_path / "z"),
             "--by", "k,ts", "--files", "2"])
    assert m["zorder.rows"] == 5


def test_curate_corpus_split_safety_keeps_loose_neardups_together(spark, tmp_path):
    """With split_safety_threshold set, docs too dissimilar to dedup but
    similar enough to leak must land in the same split partition."""
    from pyspark.sql import Row

    from streaming_etl_pipeline_spark.pipelines.training_data import curate_corpus

    # Per-doc vocabularies engineered for the Gopher gates (30-90 words,
    # mean word length 4.2-4.8, >=2 stopword hits, no repeated 2-grams);
    # different docs share only "the a", so cross-doc Jaccard ~ 0.
    def body(c):
        return (["the", "a"]
                + [f"{c}{j:02d}k" for j in range(16)]     # 4-char words
                + [f"{c}{j:02d}kz" for j in range(16)])   # 5-char words

    rows = []
    for i, c in enumerate("abcdefghij"):
        rows.append(Row(
            doc_id=i,
            text=" ".join(body(c) + [f"{c}main{j}" for j in range(6)]),
        ))
    # loose partners for the first 3 docs: same body, different tail —
    # too dissimilar to dedup at 0.9, similar enough to leak
    for i, c in enumerate("abc"):
        rows.append(Row(
            doc_id=100 + i,
            text=" ".join(body(c) + [f"{c}alt{j}q" for j in range(6)]),
        ))
    docs = spark.createDataFrame(rows)
    out = str(tmp_path / "safe")
    res = curate_corpus(
        spark, docs, out, max_tokens=16, overlap=4,
        lsh_threshold=0.9,            # nothing dedups...
        split_safety_threshold=0.35,  # ...but loose pairs split together
    )
    assert res.metrics["after_near_dedup"] == 13  # nothing removed
    got = spark.read.parquet(out).select("doc_id", "split").distinct().collect()
    split_of = {r.doc_id: r.split for r in got}
    for i in range(3):
        assert split_of[i] == split_of[100 + i], (i, split_of)
    assert len(set(split_of.values())) >= 2  # not all in one split

def test_curate_corpus_charlm_and_substring_gates(spark, tmp_path):
    # 8 typical docs + 1 gibberish doc (charlm tail) + 2 docs sharing a
    # long single-copy boilerplate block (substring cap). All pass the
    # Gopher rules; the boiler block is NOT internally repeated so the
    # repetition rule stays quiet.
    gib4 = ["zxqv", "xqvj", "qvjk", "vjkz", "jkzx", "kzxq", "zqxk", "xkzq",
            "qzxv", "vxqz", "zvqx", "xvzq", "qxjv", "vjxq", "jzqx", "kqvz",
            "zkxv", "xjqz", "qvzx"]
    gib = ["the", "data"] + gib4 + [g + "j" for g in gib4]
    boiler = " ".join(_base_tokens(8))
    rows = [(d, " ".join(_base_tokens(d))) for d in range(8)]
    rows.append((50, " ".join(gib)))
    rows.append((60, boiler + " unique tail marker sixty here plus"))
    rows.append((61, boiler + " other close ending textt parts too"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = str(tmp_path / "gated")
    res = curate_corpus(
        spark, df, out,
        charlm_drop_frac=0.2,        # cut lands above the gibberish score
        substring_dup_max=0.5,
        lsh_threshold=0.9,           # 60/61 Jaccard ~0.67: survive LSH
    )
    m = res.metrics
    assert "after_charlm" in m and "after_substring_cap" in m
    assert m["after_charlm"] < m["after_exact_dedup"]
    # both boilerplate twins exceed the 50% duplicated-span cap
    assert m["after_substring_cap"] <= m["after_charlm"] - 2
    kept_ids = {
        r.doc_id
        for r in spark.read.parquet(out).select("doc_id").distinct().collect()
    }
    assert 50 not in kept_ids and 60 not in kept_ids and 61 not in kept_ids
    assert 0 in kept_ids


def test_curate_corpus_kn_lm_gate(spark, tmp_path):
    """lm_gate='kn' swaps the char-trigram scorer for the word-level
    Kneser-Ney log-prob: the word-salad doc (every trigram unique while
    the rest of the corpus repeats its phrasing) lands in the score
    tail and is cut; the audit records the kn-specific stage key."""
    import pytest as _pytest

    rows = [(d, " ".join(_base_tokens(d))) for d in range(8)]
    # word salad with the SAME token multiset as doc 3 but reversed
    # order: identical Gopher stats (length/stopwords/mean word len),
    # near-zero shingle Jaccard (survives dedup), yet every trigram
    # sequence is corpus-unique — exactly what a word-LM tail cut
    # catches and a char-LM largely cannot
    rows.append((50, " ".join(reversed(_base_tokens(3)))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "kn_gated")
    res = curate_corpus(
        spark, df, out,
        charlm_drop_frac=0.25,
        lm_gate="kn",
        lsh_threshold=0.9,
    )
    m = res.metrics
    assert "after_kn_lm" in m and "after_charlm" not in m
    assert m["after_kn_lm"] < m["after_exact_dedup"]
    kept_ids = {
        r.doc_id
        for r in spark.read.parquet(out).select("doc_id").distinct().collect()
    }
    assert 50 not in kept_ids and 0 in kept_ids
    with _pytest.raises(ValueError, match="lm_gate"):
        curate_corpus(
            spark, df, str(tmp_path / "bad"),
            charlm_drop_frac=0.1, lm_gate="kenlm",
        )


def test_curate_corpus_dsir_gate(spark, tmp_path):
    """With a DSIR target resembling doc 5's vocabulary and keep_frac
    0.5, the gate drops the least-target-like survivor and the audit
    records the stage."""
    out = str(tmp_path / "training_dsir")
    target = spark.createDataFrame(
        [(" ".join(_base_tokens(5)),)], "text string"
    )
    res = curate_corpus(
        spark,
        _corpus(spark),
        out,
        dsir_target=target,
        dsir_keep_frac=0.5,
    )
    m = res.metrics
    assert "after_dsir" in m
    assert m["after_dsir"] < m["after_exact_dedup"]
    assert m["after_dsir"] >= 1
    # doc 5 (the target twin) must survive to the output
    written = spark.read.parquet(out)
    assert written.filter(F.col("doc_id") == 5).count() > 0


def test_curate_corpus_nb_gate(spark, tmp_path):
    """NB quality gate: weak labels mark target-vocabulary docs positive
    and one survivor's vocabulary negative — the negative-vocabulary doc
    scores below the boundary and is dropped, the audit records the
    stage, and positives survive to the output."""
    out = str(tmp_path / "training_nb")
    labeled = spark.createDataFrame(
        [(0, True), (5, False)], "doc_id long, label boolean"
    )
    res = curate_corpus(
        spark,
        _corpus(spark),
        out,
        nb_labeled=labeled,
    )
    m = res.metrics
    assert "after_nb" in m
    # doc 5 (trained negative: its q5-token vocabulary is the negative
    # class) drops; doc 0's vocabulary is the positive class
    assert m["after_nb"] < m["after_exact_dedup"]
    written = spark.read.parquet(out)
    kept = {r.doc_id for r in written.select("doc_id").distinct().collect()}
    assert 0 in kept and 5 not in kept


def test_curate_corpus_url_gate(spark, tmp_path):
    """URL pre-gate: the blocklisted domain's doc drops before any text
    stage; the per-domain cap keeps only the longest doc of a
    multi-doc domain; the audit records the stage."""
    import pytest

    out = str(tmp_path / "training_url")
    docs = _corpus(spark).withColumn(
        "url",
        F.when(F.col("doc_id") == 5, F.lit("https://spam.example.net/x"))
        .when(
            F.col("doc_id").isin(0, 1, 2),
            F.concat(F.lit("https://www.mirror.example.com/d/"), F.col("doc_id")),
        )
        .otherwise(
            F.concat(F.lit("https://ok.example.org/d/"), F.col("doc_id"))
        ),
    )
    bl = spark.createDataFrame([("example.net",)], "domain string")
    res = curate_corpus(
        spark,
        docs,
        out,
        url_col="url",
        domain_blocklist=bl,
        domain_cap_n=2,
    )
    m = res.metrics
    assert "after_url_gate" in m
    # doc 5 blocklisted; example.com capped 3 -> 2 (shortest = doc 2 by
    # id tiebreak); example.org capped 3 -> 2 (doc 6's short text loses)
    assert m["after_url_gate"] == m["input_docs"] - 3
    written = spark.read.parquet(out)
    kept = {r.doc_id for r in written.select("doc_id").distinct().collect()}
    assert 5 not in kept

    # flags without url_col fail fast
    with pytest.raises(ValueError):
        curate_corpus(spark, docs, out, domain_cap_n=5)


def test_curate_corpus_url_gate_malformed_urls_bypass_cap(spark, tmp_path):
    """Scheme-less / malformed URLs all derive the '' pseudo-domain (and
    a NULL url a NULL domain); the cap must NOT treat them as one domain
    and silently drop them — they route past the cap and surface in the
    url_gate_malformed metric."""
    out = str(tmp_path / "training_url_malformed")
    # docs 0/1/2 get malformed URLs, doc 5 a NULL url (together > cap
    # of 2); the rest one domain
    docs = _corpus(spark).withColumn(
        "url",
        F.when(
            F.col("doc_id").isin(0, 1, 2),
            F.concat(F.lit("not a url "), F.col("doc_id")),
        )
        .when(F.col("doc_id") == 5, F.lit(None).cast("string"))
        .otherwise(
            F.concat(F.lit("https://ok.example.org/d/"), F.col("doc_id"))
        ),
    )
    res = curate_corpus(spark, docs, out, url_col="url", domain_cap_n=2)
    m = res.metrics
    assert m["url_gate_malformed"] == 4.0
    # example.org has 3 docs (3, 4, 6) capped to 2; malformed all pass
    assert m["after_url_gate"] == m["input_docs"] - 1


def test_curate_corpus_shard_output(spark, tmp_path):
    """shard_output writes manifest-verified training shards; the split
    column survives as data and the shard manifest passes the verify
    audit."""
    from streaming_etl_pipeline_spark.sources.io import (
        verify_training_shards,
    )

    out = str(tmp_path / "training_shards")
    res = curate_corpus(spark, _corpus(spark), out, shard_output=4)
    assert res.metrics["shards_written"] >= 1
    assert verify_training_shards(spark, out)["ok"]
    written = spark.read.parquet(out)
    assert {"doc_id", "split", "shard"} <= set(written.columns)
    assert written.count() == res.metrics["chunks_written"]


def test_cli_train_pq_writes_codebooks(spark, tmp_path, capsys):
    import json

    from streaming_etl_pipeline_spark.pipelines.run import main

    out = str(tmp_path / "books.json")
    rc = main(
        [
            "train-pq",
            "--input", "/root/testdata/sf0.001/embeddings.parquet",
            "--output", out,
            "--m", "4", "--k", "8", "--iters", "2",
        ]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["pq.sub_dim"] == 16  # 64 dims / 4 subspaces
    books = json.load(open(out))
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 16
    # the artifact round-trips into the encode path
    from pyspark.sql import functions as F

    from streaming_etl_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(5)
    dbl = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    codes = dbl.select(SIM.pq_encode("embedding", books).alias("c")).collect()
    assert all(len(r.c) == 4 and all(0 <= x < 8 for x in r.c) for r in codes)


def test_cli_bm25_index_and_compact_store(spark, tmp_path, capsys):
    import json

    from streaming_etl_pipeline_spark.operators import retrieval as RT
    from streaming_etl_pipeline_spark.pipelines.run import main
    from streaming_etl_pipeline_spark.streaming.ingest import (
        bm25_postings_batch,
    )

    idx = str(tmp_path / "bm25_index")
    rc = main(
        [
            "build-bm25-index",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", idx,
            "--buckets", "8",
        ]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["bm25_index.docs"] > 0
    queries = spark.createDataFrame(
        [(1, "the"), (1, "data")], "query_id long, qterm string"
    )
    got = RT.bm25_topk_from_store(spark, idx, queries, k=3, buckets=8)
    assert got.count() > 0

    # compact-store over a two-trigger posting store
    store = str(tmp_path / "bm25_stream_store")
    for epoch in (0, 1):
        bm25_postings_batch(
            spark.createDataFrame(
                [(epoch * 10 + i, f"w{i} shared") for i in range(5)],
                "doc_id long, text string",
            ),
            epoch, store, buckets=8, run_token="run-z",
        )
    rc = main(
        [
            "compact-store",
            "--path", str(tmp_path / "bm25_stream_store" / "postings"),
            "--secondary-partition-cols", "term_bucket",
        ]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["compact.partitions_before"] == 2.0


def test_cli_bm25_index_accepts_sink_epochs(spark, tmp_path, capsys):
    """``build-bm25-index`` writes the streaming sink's layout, so a sink
    epoch appended to a CLI-built index is scored together with it —
    the same top-k as the direct path over both batches."""
    from streaming_etl_pipeline_spark.operators import retrieval as RT
    from streaming_etl_pipeline_spark.pipelines.run import main
    from streaming_etl_pipeline_spark.streaming.ingest import (
        bm25_postings_batch,
    )

    schema = "doc_id long, text string"
    cli_docs = spark.createDataFrame(
        [(i, f"alpha w{i} " + "beta " * (i % 3)) for i in range(6)], schema
    )
    sink_docs = spark.createDataFrame(
        [(100 + i, f"alpha zeta{i} " + "alpha " * i) for i in range(4)],
        schema,
    )
    src = str(tmp_path / "docs")
    cli_docs.write.parquet(src)
    idx = str(tmp_path / "bm25_index")
    assert main(
        ["build-bm25-index", "--input", src, "--output", idx, "--buckets", "8"]
    ) == 0
    capsys.readouterr()
    bm25_postings_batch(sink_docs, 0, idx, buckets=8, run_token="run")
    queries = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "query_id long, qterm string"
    )
    got = sorted(
        tuple(r)
        for r in RT.bm25_topk_from_store(
            spark, idx, queries, k=8, buckets=8
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in RT.bm25_topk(
            cli_docs.unionByName(sink_docs), queries, k=8
        ).collect()
    )
    assert got == want
    hits = {r[2] for r in got if r[0] == 1}
    assert hits & set(range(6)) and hits & set(range(100, 104))


def test_cli_bm25_rebuild_replaces_the_whole_index(spark, tmp_path, capsys):
    """``build-bm25-index`` into an existing index replaces all of it:
    after a compaction, after a ``delete-ids --bm25`` and over an index
    in the flat layout of older builds, the rebuilt index scores exactly
    like a single build of the new corpus (no doubled postings, no
    second decrement of the corpus stats, no mixed layouts)."""
    import os

    from streaming_etl_pipeline_spark.operators import retrieval as RT
    from streaming_etl_pipeline_spark.pipelines.run import main

    schema = "doc_id long, text string"
    rows = [(i, f"alpha w{i} " + "beta " * (i % 3)) for i in range(8)]
    full, rest = str(tmp_path / "full"), str(tmp_path / "rest")
    spark.createDataFrame(rows, schema).write.parquet(full)
    spark.createDataFrame(
        [r for r in rows if r[0] != 3], schema
    ).write.parquet(rest)
    queries = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "w3")], "query_id long, qterm string"
    )

    def cli(*argv):
        assert main(list(argv)) == 0
        capsys.readouterr()

    def build(src, idx):
        cli("build-bm25-index", "--input", src, "--output", idx,
            "--buckets", "8")

    def scores(idx):
        return sorted(
            tuple(r)
            for r in RT.bm25_topk_from_store(
                spark, idx, queries, k=8, buckets=8
            ).collect()
        )

    want_full = str(tmp_path / "want_full")
    want_rest = str(tmp_path / "want_rest")
    build(full, want_full)
    build(rest, want_rest)
    # build, compact, build again
    idx = str(tmp_path / "compacted")
    build(full, idx)
    cli("compact-store", "--path", os.path.join(idx, "postings"),
        "--secondary-partition-cols", "term_bucket")
    build(full, idx)
    assert scores(idx) == scores(want_full)
    # build, delete a doc, rebuild from the corpus without it
    idx = str(tmp_path / "deleted")
    build(full, idx)
    cli("delete-ids", "--path", idx, "--ids", "3", "--bm25")
    build(rest, idx)
    assert scores(idx) == scores(want_rest)
    assert not os.path.exists(os.path.join(idx, "postings", "_tombstones"))
    # an index in the old flat layout (postings by term_bucket only)
    idx = str(tmp_path / "flat")
    for sub, parts in (("postings", ["term_bucket"]), ("stats", [])):
        spark.read.parquet(os.path.join(want_full, sub)).drop(
            "ingest_batch_id"
        ).write.partitionBy(*parts).parquet(os.path.join(idx, sub))
    build(full, idx)
    assert scores(idx) == scores(want_full)


def test_cli_score_lm_self_and_store(spark, tmp_path, capsys):
    """score-lm end-to-end: self-trained scores match the library call
    bit-for-bit, and --model-store scores against the model rebuilt
    from a streaming n-gram count store (held-out docs get backoff
    scores, not errors)."""
    import json

    from streaming_etl_pipeline_spark.operators import ngram_lm as NL
    from streaming_etl_pipeline_spark.pipelines.run import main
    docs_path = "/root/testdata/sf0.001/documents.parquet"
    out1 = str(tmp_path / "scores_self")
    rc = main(["score-lm", "--input", docs_path, "--output", out1])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["score_lm.docs"] == 500
    assert metrics["score_lm.self_trained"] == 1.0
    cli = sorted(tuple(r) for r in spark.read.parquet(out1).collect())
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    lib = sorted(tuple(r) for r in NL.kn_lm_scores(docs).collect())
    assert cli == lib

    # build the store through the CLI too (the offline seed path)
    half = str(tmp_path / "docs_half")
    docs.limit(200).write.parquet(half)
    store = str(tmp_path / "ngram_store")
    rc = main(["build-ngram-store", "--input", half, "--output", store])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["ngram_store.docs"] == 200
    out2 = str(tmp_path / "scores_store")
    rc = main(
        ["score-lm", "--input", docs_path, "--output", out2,
         "--model-store", store]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["score_lm.self_trained"] == 0.0
    got = spark.read.parquet(out2)
    assert got.count() == 500
    assert got.filter("avg_logp >= 0 OR avg_p <= 0").count() == 0

    # fit-lm saves the probability tables; score-lm --model over the
    # SAME corpus reproduces the self-trained scores bit-for-bit (no
    # OOV exists, so the cascade resolves every trigram at p3)
    mdir = str(tmp_path / "kn_model")
    rc = main(["fit-lm", "--input", docs_path, "--output", mdir])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["fit_lm.tri_types"] > 0
    out3 = str(tmp_path / "scores_model")
    rc = main(
        ["score-lm", "--input", docs_path, "--output", out3,
         "--model", mdir]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["score_lm.self_trained"] == 0.0
    from_model = sorted(
        tuple(r) for r in spark.read.parquet(out3).collect()
    )
    assert from_model == cli


def test_cli_score_lm_order5_pruned(spark, tmp_path, capsys):
    """r9 order-n CLI legs: fit-lm --order 5 --min-count 2 saves the
    format-2 artifact; score-lm --model over the SAME corpus reproduces
    the self-trained pruned scores bit-for-bit (the saved-model cascade
    equals the in-memory one); an order-5 CLI-built store feeds
    score-lm --model-store --order 5 with the bit-identical model."""
    import json

    from streaming_etl_pipeline_spark.operators import ngram_lm as NL
    from streaming_etl_pipeline_spark.pipelines.run import main

    docs_path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    out1 = str(tmp_path / "scores5_self")
    rc = main(
        ["score-lm", "--input", docs_path, "--output", out1,
         "--order", "5", "--min-count", "2"]
    )
    assert rc == 0
    cli = sorted(tuple(r) for r in spark.read.parquet(out1).collect())
    lib = sorted(
        tuple(r)
        for r in NL.kn_lm_scores_n(docs, order=5, min_count=2).collect()
    )
    assert cli == lib

    mdir = str(tmp_path / "kn5_model")
    rc = main(
        ["fit-lm", "--input", docs_path, "--output", mdir,
         "--order", "5", "--min-count", "2"]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["fit_lm.top_types"] > 0
    out2 = str(tmp_path / "scores5_model")
    rc = main(
        ["score-lm", "--input", docs_path, "--output", out2,
         "--model", mdir]
    )
    assert rc == 0
    assert sorted(
        tuple(r) for r in spark.read.parquet(out2).collect()
    ) == cli

    # order-5 store seed -> store-backed scoring, same pruned model
    store = str(tmp_path / "ngram5_store")
    rc = main(
        ["build-ngram-store", "--input", docs_path, "--output", store,
         "--order", "5"]
    )
    assert rc == 0
    out3 = str(tmp_path / "scores5_store")
    rc = main(
        ["score-lm", "--input", docs_path, "--output", out3,
         "--model-store", store, "--order", "5", "--min-count", "2"]
    )
    assert rc == 0
    assert sorted(
        tuple(r) for r in spark.read.parquet(out3).collect()
    ) == cli


def test_curate_corpus_extract_html(spark, tmp_path):
    """extract_html=True: markup is stripped BEFORE quality/dedup, so an
    HTML-wrapped twin of a plain doc exact-dedups against it, and tag
    soup never inflates the Gopher word counts."""
    out = str(tmp_path / "training_html")
    wrapped = F.concat(
        F.lit("<html><head><script>var x=1;</script></head><body><p>"),
        F.col("text"),
        F.lit("</p><!-- footer --></body></html>"),
    )
    docs = _corpus(spark).withColumn(
        "text",
        F.when(F.col("doc_id").isin(1, 4), wrapped).otherwise(
            F.col("text")
        ),
    )
    res = curate_corpus(spark, docs, out, extract_html=True)
    m = res.metrics
    assert "after_html_extract" in m
    # doc 1 (HTML-wrapped exact dup of 0) still dedups away: extraction
    # restored the identical text before the hash
    plain = curate_corpus(spark, _corpus(spark), str(tmp_path / "p"))
    assert m["after_exact_dedup"] == plain.metrics["after_exact_dedup"]
    # every downstream gate sees the same extracted corpus as the
    # never-wrapped baseline — identical audit trail from quality on
    downstream = [k for k in plain.metrics if k.startswith("after_")]
    assert {k: m[k] for k in downstream} == {
        k: plain.metrics[k] for k in downstream
    }


def test_cli_prune_writes_decisions(spark, tmp_path, capsys):
    import json

    from streaming_etl_pipeline_spark.pipelines.run import main

    cents = str(tmp_path / "cents")
    rc = main(
        [
            "train-quantizer",
            "--input", "/root/testdata/sf0.001/embeddings.parquet",
            "--output", cents,
            "--k", "8", "--iters", "1",
        ]
    )
    assert rc == 0
    out = str(tmp_path / "decisions")
    rc = main(
        [
            "prune",
            "--input", "/root/testdata/sf0.001/embeddings.parquet",
            "--centroids", cents,
            "--output", out,
            "--drop-frac", "0.25",
        ]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    written = spark.read.parquet(out)
    n_in = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).count()
    assert metrics["prune.total"] == written.count() == n_in
    # per-cell floor(0.25*n) pruning lands the global keep near 75%
    assert abs(metrics["prune.kept"] / metrics["prune.total"] - 0.75) < 0.02
    assert {"vec_id", "centroid_id", "proto_sim", "proto_rank", "cell_n",
            "kept"} <= set(written.columns)
