"""Structured Streaming extraction: file source -> watermarked windowed agg."""

from pyspark.sql import functions as F

from pathhier_spark.sources import corpus as corpus_mod
from pathhier_spark.streaming.stream import run_stream_to_memory


def test_streaming_mention_counts(spark, tmp_path):
    c = corpus_mod.generate(n_classes=30, n_docs=60, seed=42)
    docs, *_ = corpus_mod.to_spark(spark, c)
    input_dir = str(tmp_path / "docs_stream")
    # two "crawl batches" as separate files
    docs.filter(F.col("url").substr(-1, 1).isin("0", "1", "2", "3", "4")).coalesce(
        1
    ).write.mode("append").parquet(input_dir)
    docs.filter(~F.col("url").substr(-1, 1).isin("0", "1", "2", "3", "4")).coalesce(
        1
    ).write.mode("append").parquet(input_dir)

    q = run_stream_to_memory(spark, input_dir, query_name="mc_test")
    try:
        q.processAllAvailable()
        out = spark.sql("select * from mc_test")
        rows = out.collect()
        assert rows, "stream produced no windows"
        total = sum(r["n_mentions"] for r in rows)
        assert total == len(c.gold_triples)
        assert {r["pred"] for r in rows} <= {
            "participant", "controller", "component", "member", "to", "other"
        }
    finally:
        q.stop()


def test_stateful_dedup_with_expiry(spark, tmp_path):
    """applyInPandasWithState dedup: first-sight emits 'first', duplicates
    within the horizon are silent, watermark-driven timeout emits 'expired'
    with the seen-count, and a key reappearing after expiry emits 'first'
    again (state is bounded by the horizon)."""
    from datetime import datetime, timedelta

    from pathhier_spark.streaming.stream import streaming_stateful_dedup

    input_dir = tmp_path / "state_stream"
    input_dir.mkdir()
    schema = "url string, warc_ts timestamp"
    t0 = datetime(2026, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(input_dir))

    # batch 1 must exist before the stream starts (file source needs data)
    write_batch("b1", [("u1", t0), ("u2", t0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    out = streaming_stateful_dedup(
        stream, watermark="10 minutes", expire_after="30 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("state_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: u1 duplicate (silent), u9 far ahead advances the watermark
        write_batch("b2", [("u1", t0 + timedelta(minutes=5)),
                           ("u9", t0 + timedelta(hours=1))])
        q.processAllAvailable()
        # batch 3: far-future event -> watermark sweeps past u1/u2 timeouts
        write_batch("b3", [("u5", t0 + timedelta(hours=3))])
        q.processAllAvailable()
        # batch 4: u1 reappears after expiry -> 'first' again
        write_batch("b4", [("u1", t0 + timedelta(hours=3, minutes=1))])
        q.processAllAvailable()

        rows = spark.sql("select * from state_test").collect()
        by_url = {}
        for r in rows:
            by_url.setdefault(r["url"], []).append((r["event"], r["n_seen"]))
        assert ("first", 1) in by_url["u1"]
        # u1 seen twice before expiry -> expired carries n_seen=2
        assert ("expired", 2) in by_url["u1"]
        # reappearance after expiry -> a second 'first'
        assert [e for e, _ in by_url["u1"]].count("first") == 2
        assert ("expired", 1) in by_url["u2"]
        # u2 never reappears: exactly one first + one expired
        assert sorted(e for e, _ in by_url["u2"]) == ["expired", "first"]
    finally:
        q.stop()


def test_streaming_session_counts(spark, tmp_path):
    """Native session_window streaming sessionization: events within the gap
    merge into one session; a gap larger than `gap` starts a new session;
    sessions finalize (append-mode emit) once the watermark passes them."""
    from datetime import datetime, timedelta

    from pathhier_spark.streaming.stream import streaming_session_counts

    input_dir = tmp_path / "sess_stream"
    input_dir.mkdir()
    schema = "url string, warc_ts timestamp"
    t0 = datetime(2026, 1, 1, 0, 0, 0)

    def wb(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(input_dir))

    # session 1 for u1: three events within the 30-min gap
    wb([("u1", t0), ("u1", t0 + timedelta(minutes=10)),
        ("u1", t0 + timedelta(minutes=20)), ("u2", t0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    out = streaming_session_counts(stream, watermark="10 minutes", gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # session 2 for u1 after a >30-min silence; far-future row advances
        # the watermark so both u1 sessions + u2's finalize
        wb([("u1", t0 + timedelta(hours=2))])
        q.processAllAvailable()
        wb([("u9", t0 + timedelta(hours=6))])
        q.processAllAvailable()

        rows = spark.sql(
            "select * from sess_test order by url, session_start"
        ).collect()
        u1 = [r for r in rows if r["url"] == "u1"]
        assert len(u1) == 2, f"expected 2 finalized u1 sessions, got {u1}"
        assert u1[0]["n_events"] == 3 and u1[1]["n_events"] == 1
        # session extends gap past the last event
        assert u1[0]["session_end"] == t0 + timedelta(minutes=50)
        u2 = [r for r in rows if r["url"] == "u2"]
        assert len(u2) == 1 and u2[0]["n_events"] == 1
    finally:
        q.stop()


def test_streaming_join_annotations(spark, tmp_path):
    """Stream-stream interval join: annotations within +-30 min of the crawl
    join; one outside the interval does not."""
    from datetime import datetime, timedelta

    from pathhier_spark.streaming.stream import streaming_join_annotations

    ddir, adir = tmp_path / "docs", tmp_path / "anns"
    ddir.mkdir(); adir.mkdir()
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [("u1", t0), ("u2", t0)], "url string, warc_ts timestamp"
    ).coalesce(1).write.mode("append").parquet(str(ddir))
    spark.createDataFrame(
        [("u1", "good", t0 + timedelta(minutes=10)),     # in window
         ("u1", "stale", t0 + timedelta(hours=2)),       # outside window
         ("u2", "early", t0 - timedelta(minutes=20))],   # in window (before)
        "ann_url string, label string, ann_ts timestamp",
    ).coalesce(1).write.mode("append").parquet(str(adir))

    ds = spark.readStream.schema("url string, warc_ts timestamp").parquet(str(ddir))
    as_ = spark.readStream.schema(
        "ann_url string, label string, ann_ts timestamp"
    ).parquet(str(adir))
    out = streaming_join_annotations(ds, as_, watermark="10 minutes",
                                     join_window="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r["url"], r["label"]) for r in spark.sql("select * from ssj_test").collect()}
        assert rows == {("u1", "good"), ("u2", "early")}
    finally:
        q.stop()


def test_stream_to_warehouse_exactly_once(spark, tmp_path):
    """Streaming micro-batches commit into the Warehouse; a replayed batch
    (same fingerprint) does not duplicate rows; a restarted stream with the
    same checkpoint only appends NEW batches."""
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import stream_to_warehouse

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, n long"

    def wb(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(input_dir))

    wb([("u1", 1), ("u2", 2)])
    stream = spark.readStream.schema(schema).parquet(str(input_dir))
    q = stream_to_warehouse(stream, wh, "events", checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        assert wh.read("events").count() == 2
        wb([("u3", 3)])
        q.processAllAvailable()
        assert wh.read("events").count() == 3
    finally:
        q.stop()

    # direct replay of the last committed batch fingerprint -> no-op
    last_fp = wh.manifest("events")["fingerprint"]
    extra = spark.createDataFrame([("dup", 9)], schema)
    wh.write(extra, "events", mode="append", fingerprint=last_fp)
    assert wh.read("events").count() == 3

    # restart with the same checkpoint: only the new batch is processed
    wb([("u4", 4)])
    stream2 = spark.readStream.schema(schema).parquet(str(input_dir))
    q2 = stream_to_warehouse(stream2, wh, "events", checkpoint_dir=ckpt)
    try:
        q2.processAllAvailable()
        got = {r["url"] for r in wh.read("events").collect()}
        assert got == {"u1", "u2", "u3", "u4"}
        assert wh.read("events").count() == 4
    finally:
        q2.stop()


def test_stream_training_corpus(spark, tmp_path):
    """The streaming prep funnel keeps exactly the quality-passing,
    target-language, first-copy documents across micro-batches."""
    import datetime

    from pathhier_spark.streaming.stream import (
        stream_documents,
        stream_training_corpus,
    )

    ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
    good = "the data is good and it is in the set that we keep for it"
    gibber = "zz zz zz zz zz zz"
    german = "der hund und die katze das ist nicht ein zu haus der die das und"

    def doc(url, text):
        return (url, ts, text.encode(), text, "xx")

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    b1 = spark.createDataFrame(
        [doc("u1", good), doc("u2", good), doc("u3", gibber), doc("u4", german)],
        schema,
    )
    fresh = "the second good text that we also keep in the end of it all"
    b2 = spark.createDataFrame(
        [doc("u5", good), doc("u6", fresh)], schema
    )
    input_dir = str(tmp_path / "stream_in")
    b1.coalesce(1).write.mode("append").parquet(input_dir)
    b2.coalesce(1).write.mode("append").parquet(input_dir)

    out = stream_training_corpus(stream_documents(spark, input_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("prep_funnel")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "select text, count(*) n from prep_funnel group by text"
        ).collect()
        got = {r["text"]: r["n"] for r in rows}
        # exactly one copy of each surviving text; gibberish and German gone
        assert got == {good: 1, fresh: 1}
    finally:
        q.stop()


def test_streaming_batch_funnel_parity_via_warehouse(spark, tmp_path):
    """End-to-end parity (VERDICT r3 item 8): crawl stream ->
    stream_training_corpus -> stream_to_warehouse -> batch Warehouse.read,
    compared against the BATCH q35-style funnel (quality + language +
    exact_dedup) over the same static input. The surviving corpus CONTENT
    must agree exactly: same set of distinct texts, one copy each. (Winner
    ids may differ by design — streaming keeps the first ARRIVAL within the
    watermark, batch keeps the min id — so parity is asserted on content.)"""
    import datetime

    from pathhier_spark.operators.dedup import exact_dedup
    from pathhier_spark.operators.textstats import (
        with_lang_id,
        with_quality_features,
    )
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import (
        stream_documents,
        stream_to_warehouse,
        stream_training_corpus,
    )

    ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
    good = "the data is good and it is in the set that we keep for it"
    fresh = "the second good text that we also keep in the end of it all"
    third = "another keeper with the usual words that the filter is for"
    gibber = "zz zz zz zz zz zz"
    german = "der hund und die katze das ist nicht ein zu haus der die das und"

    def doc(url, text):
        return (url, ts, text.encode(), text, "xx")

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    b1 = [doc("u1", good), doc("u2", good), doc("u3", gibber), doc("u4", german)]
    b2 = [doc("u5", good), doc("u6", fresh), doc("u7", third)]
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(input_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(input_dir)

    # streaming path: funnel -> exactly-once warehouse commits -> batch read
    wh = Warehouse(spark, str(tmp_path / "wh"))
    out = stream_training_corpus(stream_documents(spark, input_dir))
    q = stream_to_warehouse(
        out.select("url", "warc_ts", "text", "quality_score", "lang_pred"),
        wh, "prep", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_result = wh.read("prep")

    # batch path: the q35 funnel over the SAME static input
    docs = spark.read.parquet(input_dir)
    scored = with_lang_id(with_quality_features(docs))
    kept = scored.filter(
        (F.col("quality_score") >= 0.5) & (F.col("lang_pred") == "en")
    )
    batch_result = exact_dedup(kept, id_col="url")

    s_texts = sorted(r["text"] for r in stream_result.select("text").collect())
    b_texts = sorted(r["text"] for r in batch_result.select("text").collect())
    assert s_texts == b_texts == sorted([good, fresh, third])
    # quality/language columns surviving the warehouse round-trip agree
    s_q = {r["text"]: (round(r["quality_score"], 9), r["lang_pred"])
           for r in stream_result.collect()}
    b_q = {r["text"]: (round(r["quality_score"], 9), r["lang_pred"])
           for r in batch_result.collect()}
    assert s_q == b_q


def test_stream_to_warehouse_incremental_consumer(spark, tmp_path):
    """End-to-end: a streaming producer commits micro-batches into the
    Warehouse while a downstream consumer follows the table with
    read_incremental, holding only the last fingerprint it processed —
    each poll reads exactly the new rows, and the union of deltas equals
    the full table."""
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import stream_to_warehouse

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, n long"

    def wb(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(input_dir))

    wb([("u1", 1), ("u2", 2)])
    stream = spark.readStream.schema(schema).parquet(str(input_dir))
    q = stream_to_warehouse(stream, wh, "ev", checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        # consumer bootstraps with a full read, remembers the fingerprint
        seen = {r["url"] for r in wh.read("ev").collect()}
        cursor = wh.manifest("ev")["fingerprint"]
        assert seen == {"u1", "u2"}

        wb([("u3", 3)])
        q.processAllAvailable()
        delta = wh.read_incremental("ev", cursor)
        got = {r["url"] for r in delta.collect()}
        assert got == {"u3"}  # exactly the new micro-batch, nothing else
        seen |= got
        cursor = wh.manifest("ev")["fingerprint"]

        wb([("u4", 4), ("u5", 5)])
        q.processAllAvailable()
        got = {r["url"] for r in wh.read_incremental("ev", cursor).collect()}
        assert got == {"u4", "u5"}
        seen |= got
    finally:
        q.stop()
    assert seen == {r["url"] for r in wh.read("ev").collect()}


def test_streaming_hll_rollup_matches_batch(spark, tmp_path):
    """Incrementally-maintained per-lang HLL sketches (stream_hll_rollup:
    per-batch register deltas appended exactly-once, max-merged at read)
    must equal the batch recompute over the full static input —
    register-for-register, and therefore estimate-for-estimate."""
    import datetime

    from pathhier_spark.operators.textstats import (
        _tokens,
        hll_estimate_grouped,
        hll_registers_grouped,
    )
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import (
        hll_rollup_read,
        stream_hll_rollup,
    )

    ts = datetime.datetime(2024, 1, 1)
    schema = "url string, warc_ts timestamp, text string, lang string"
    b1 = [
        ("u1", ts, "alpha beta gamma alpha", "en"),
        ("u2", ts, "delta epsilon", "en"),
        ("u3", ts, "un deux trois", "fr"),
    ]
    b2 = [
        ("u4", ts, "gamma zeta eta theta", "en"),
        ("u5", ts, "trois quatre cinq", "fr"),
        ("u6", ts, "iota kappa", "de"),
    ]
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(input_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(input_dir)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force >= 2 micro-batches
        .parquet(input_dir)
        .select("lang", F.explode(_tokens("text")).alias("tok"))
    )
    q = stream_hll_rollup(
        stream, wh, "lang_sketches", "lang", "tok",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    merged = hll_rollup_read(wh, "lang_sketches", "lang")
    batch = spark.read.parquet(input_dir).select(
        "lang", F.explode(_tokens("text")).alias("tok")
    )
    full = hll_registers_grouped(batch, "lang", "tok")
    got = {(r["lang"], r["j"]): r["reg"] for r in merged.collect()}
    want = {(r["lang"], r["j"]): r["reg"] for r in full.collect()}
    assert got == want
    # at least two deltas were appended (one per micro-batch)
    man = wh.manifest("lang_sketches")
    assert len([s for s in man["snapshots"]]) >= 2
    # estimates agree too
    est_s = {
        r["lang"]: r["est"]
        for r in hll_estimate_grouped(merged, "lang").collect()
    }
    est_b = {
        r["lang"]: r["est"]
        for r in hll_estimate_grouped(full, "lang").collect()
    }
    assert est_s == est_b


def test_stream_kg_ingest_matches_batch_pipeline(spark, tmp_path):
    """Continuous-crawl KG construction: stream_kg_ingest (foreachBatch ->
    run_pipeline_incremental -> url-keyed merge) over a file stream of
    crawl batches must produce EXACTLY the edges of one batch run_pipeline
    over the union — including a cross-batch re-crawl, whose stale edges
    the later micro-batch replaces."""
    from pathhier_spark.plans.pipeline import run_pipeline
    from pathhier_spark.sources import corpus as corpus_mod
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import stream_documents, stream_kg_ingest

    c = corpus_mod.generate(n_classes=40, n_docs=60, seed=7)
    docs, onto, *_ = corpus_mod.to_spark(spark, c)
    half_a = docs.filter(F.crc32(F.col("url")) % 2 == 0)
    half_b = docs.filter(F.crc32(F.col("url")) % 2 == 1)

    input_dir = str(tmp_path / "crawl_in")
    # batch 1 = half_a; batch 2 = half_b PLUS a re-crawl of one half_a url
    # carrying different content (a half_b doc's html under half_a's url)
    recrawl_url = half_a.select("url").orderBy("url").first()["url"]
    donor = half_b.orderBy("url").first()
    recrawl = half_a.filter(F.col("url") == recrawl_url).select(
        "url", "warc_ts",
        F.lit(bytes(donor["html"])).alias("html"),
        F.lit(donor["text"]).alias("text"),
        "lang",
    )
    half_a.coalesce(1).write.mode("append").parquet(input_dir)
    half_b.unionByName(recrawl).coalesce(1).write.mode("append").parquet(
        input_dir
    )

    wh_root = str(tmp_path / "wh_kg")
    q = stream_kg_ingest(
        stream_documents(spark, input_dir, max_files_per_trigger=1),
        onto, wh_root, checkpoint_dir=str(tmp_path / "ckpt_kg"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # reference: one batch run over the FINAL corpus state (recrawl wins)
    final_docs = half_a.filter(F.col("url") != recrawl_url).unionByName(
        half_b
    ).unionByName(recrawl)
    full = run_pipeline(
        spark, final_docs, onto, str(tmp_path / "full_ckpt")
    )
    cols = ["subj", "pred", "obj", "url", "provenance"]
    want = {tuple(r) for r in full["edges"].select(*cols).collect()}
    got = {
        tuple(r)
        for r in Warehouse(spark, wh_root).read("kg_edges").select(*cols).collect()
    }
    assert got == want

    # resume from the streaming checkpoint with a batch holding TWO
    # versions of one url: latest-wins inside the micro-batch, so only the
    # newer version's edges land
    donor2 = half_b.orderBy(F.desc("url")).first()
    old_row = half_a.filter(F.col("url") == recrawl_url).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    new_row = old_row.select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
        F.lit(bytes(donor2["html"])).alias("html"),
        F.lit(donor2["text"]).alias("text"),
        "lang",
    )
    old_row.unionByName(new_row).coalesce(1).write.mode("append").parquet(
        input_dir
    )
    q2 = stream_kg_ingest(
        stream_documents(spark, input_dir, max_files_per_trigger=1),
        onto, wh_root, checkpoint_dir=str(tmp_path / "ckpt_kg"),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    from pathhier_spark.plans.pipeline import (
        assemble_triples, canonical_edges, canonicalize_classes, link_mentions,
    )
    from pathhier_spark.operators.extract import (
        extract_mentions, with_extracted_text,
    )
    m = extract_mentions(
        with_extracted_text(new_row)
        .select("url", "warc_ts", "lang", "extracted_text")
        .withColumnRenamed("extracted_text", "text")
    )
    lk = link_mentions(
        m.select(F.col("subj_mention").alias("mention")).union(
            m.select(F.col("obj_mention").alias("mention"))
        ),
        onto,
    )
    expect_new = {
        tuple(r)
        for r in canonical_edges(
            assemble_triples(m, lk), canonicalize_classes(onto)
        ).select(*cols).collect()
    }
    got_url = {
        tuple(r)
        for r in Warehouse(spark, wh_root)
        .read("kg_edges")
        .filter(F.col("url") == recrawl_url)
        .select(*cols)
        .collect()
    }
    assert got_url == expect_new


def test_stream_countmin_parity_and_heavy_hitters(spark, tmp_path):
    """Stream↔batch parity for the ADDITIVE sketch (the q60 count-min):
    micro-batch deltas sum-merged through the warehouse must equal ONE
    batch sketch over the full corpus cell-for-cell (determinism means
    streaming changes when work happens, not the answer) — and the
    heavy-hitter readout from the merged sketch must rank the true hot
    token first with its exact count (CMS overestimates, never under)."""
    import datetime

    from pathhier_spark.operators.textstats import (
        countmin_estimate,
        countmin_sketch,
    )
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import (
        countmin_rollup_read,
        stream_countmin_rollup,
        stream_documents,
    )

    ts = datetime.datetime(2024, 1, 1)
    mk = lambda u, t: (u, ts, t.encode(), t, "en")  # noqa: E731
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    b1 = [mk(f"u{i}", "hot common") for i in range(6)] + [mk("u9", "rare")]
    b2 = [mk(f"v{i}", "hot") for i in range(4)] + [mk("v9", "common")]
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(input_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(input_dir)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    toks = lambda df: df.select(  # noqa: E731
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    )
    q = stream_countmin_rollup(
        toks(stream_documents(spark, input_dir)), wh, "cms", "token",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    merged = countmin_rollup_read(wh, "cms")
    batch = countmin_sketch(spark.read.parquet(input_dir).transform(toks), "token")
    a = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert a == b and len(a) > 0

    probes = spark.createDataFrame(
        [("hot",), ("common",), ("rare",), ("never",)], "token string"
    )
    est = {
        r["token"]: r["est_count"]
        for r in countmin_estimate(merged, probes, "token").collect()
    }
    # exact counts: hot 10, common 7, rare 1, never 0; CMS >= truth and
    # at this tiny fill level collisions are absent -> exact
    assert est["hot"] >= 10 and est["common"] >= 7
    assert est["rare"] >= 1 and est["never"] >= 0
    assert est["hot"] > est["common"] > est["rare"]


def test_streaming_batch_rate_anomaly_parity_via_warehouse(spark, tmp_path):
    """Stream -> watermarked daily counts -> exactly-once warehouse commits
    -> batch rate_anomalies_from_daily agrees EXACTLY with the batch
    rate_anomalies over the same raw events: same (series, day, n_events,
    z, is_anomaly) rows. The far-future nudge row advances the watermark so
    every real day finalizes; the nudge's own day stays in state and is
    excluded from the batch side too."""
    from datetime import datetime, timedelta

    from pathhier_spark.operators.temporal import (
        rate_anomalies,
        rate_anomalies_from_daily,
    )
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import (
        stream_to_warehouse,
        streaming_daily_counts,
    )

    input_dir = tmp_path / "ev_stream"
    input_dir.mkdir()
    schema = "event_type string, ts timestamp"
    t0 = datetime(2026, 1, 1, 12, 0, 0)

    def wb(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(input_dir))

    # series "a": 1,1,1,1,1,11 events across six days (one >2-sigma day);
    # series "b": constant 2/day (zero variance -> NULL z)
    rows = []
    for day, n in enumerate([1, 1, 1, 1, 1, 11]):
        rows += [("a", t0 + timedelta(days=day, minutes=i)) for i in range(n)]
        rows += [("b", t0 + timedelta(days=day, minutes=30)),
                 ("b", t0 + timedelta(days=day, minutes=31))]
    wb(rows[: len(rows) // 2])
    wb(rows[len(rows) // 2:])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    out = streaming_daily_counts(stream, watermark="1 day")
    q = stream_to_warehouse(
        out, wh, "daily", checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        # nudge: far-future row advances the watermark past every real day
        wb([("zz", t0 + timedelta(days=30))])
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = rate_anomalies_from_daily(wh.read("daily").select("series", "day", "x"))
    batch = rate_anomalies(spark.createDataFrame(rows, schema))

    key = lambda r: (r["series"], r["day"])  # noqa: E731
    s_rows = sorted((tuple(r) for r in streamed.collect()), key=lambda t: (t[0], t[1]))
    b_rows = sorted((tuple(r) for r in batch.collect()), key=lambda t: (t[0], t[1]))
    assert s_rows == b_rows
    assert len(s_rows) == 12  # 6 days x 2 series, nudge day absent
    flagged = [t for t in s_rows if t[4] == 1]
    assert len(flagged) == 1 and flagged[0][0] == "a" and flagged[0][2] == 11


def test_streaming_trending_terms_sliding_windows_batch_parity(
    spark, tmp_path
):
    """streaming_trending_terms: (a) overlapping windows — an event at
    :07 with window=10m/slide=5m lands in BOTH the [:00,:10) and
    [:05,:15) windows; (b) exact batch parity — the identical
    F.window groupBy over the same static table produces identical
    (window, token, n) rows; (c) the burst is visible in the rising
    window before the tumbling boundary would have closed."""
    import datetime

    from pyspark.sql import functions as F

    from pathhier_spark.streaming.stream import (
        stream_documents,
        streaming_trending_terms,
    )

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m, 0)  # noqa: E731

    def doc(url, minute, text):
        return (url, t(minute), text.encode(), text, "xx")

    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"
    )
    rows = [
        doc("u1", 2, "calm calm words"),
        doc("u2", 7, "burst burst burst words"),
        doc("u3", 12, "burst calm"),
    ]
    ddir = tmp_path / "docs"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(ddir))

    out = streaming_trending_terms(stream_documents(spark, str(ddir)))
    q = (
        out.writeStream.format("memory")
        .queryName("trending")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"].minute, r["token"]): r["n"]
            for r in spark.sql("select * from trending").collect()
        }
    finally:
        q.stop()
    # u2's burst at :07 lands in both the [:00,:10) and [:05,:15) windows
    assert got[(0, "burst")] == 3
    assert got[(5, "burst")] == 4   # :07 burst + :12 burst
    assert got[(10, "burst")] == 1  # :12 only
    assert got[(0, "calm")] == 2 and got[(5, "calm")] == 1

    # batch parity: identical expression over the static table
    batch = (
        spark.read.parquet(str(ddir))
        .select(
            F.col("warc_ts").alias("_ts"),
            F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
        )
        .groupBy(F.window("_ts", "10 minutes", "5 minutes"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "token", "n"
        )
    )
    bgot = {
        (r["window_start"].minute, r["token"]): r["n"]
        for r in batch.collect()
    }
    assert bgot == got


def test_streaming_batch_cusum_parity_via_warehouse(spark, tmp_path):
    """Stream -> watermarked daily counts -> exactly-once warehouse ->
    cusum_from_daily agrees EXACTLY with batch cusum_changepoints over
    the same raw events — the drift detector consumes either path. The
    far-future nudge advances the watermark so every real day finalizes;
    its own day stays in state and is absent from the batch rows too."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from pathhier_spark.operators.temporal import (
        cusum_changepoints,
        cusum_from_daily,
    )
    from pathhier_spark.sources.warehouse import Warehouse
    from pathhier_spark.streaming.stream import (
        stream_to_warehouse,
        streaming_daily_counts,
    )

    input_dir = tmp_path / "ev_stream"
    input_dir.mkdir()
    schema = "event_type string, ts timestamp"
    t0 = datetime(2026, 3, 1, 12, 0, 0)

    def wb(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(input_dir))

    # daily totals 10,10,10,22,22,10 split across two series — the q206
    # hand-computed walk (alarms on days 3, 5, 6)
    rows = []
    for day, n in enumerate([10, 10, 10, 22, 22, 10]):
        rows += [("a", t0 + timedelta(days=day, minutes=i))
                 for i in range(n - 3)]
        rows += [("b", t0 + timedelta(days=day, minutes=40 + i))
                 for i in range(3)]
    wb(rows[: len(rows) // 2])
    wb(rows[len(rows) // 2:])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    out = streaming_daily_counts(stream, watermark="1 day")
    q = stream_to_warehouse(
        out, wh, "daily", checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        wb([("zz", t0 + timedelta(days=30))])
        q.processAllAvailable()
    finally:
        q.stop()

    daily_tot = (
        wh.read("daily")
        .groupBy("day")
        .agg(F.sum("x").cast("long").alias("x"))
    )
    streamed = [tuple(r) for r in cusum_from_daily(daily_tot).collect()]
    batch = [
        tuple(r)
        for r in cusum_changepoints(
            spark.createDataFrame(rows, schema)
        ).collect()
    ]
    assert streamed == batch
    assert len(streamed) == 6
    assert [t[4] for t in streamed] == [
        False, False, True, False, True, True,
    ]
