"""End-to-end KG pipeline: P/R >= 0.95 vs gold triples, byte-identical text,
idempotent resume, determinism (SURVEY.md §5 items 2/5/6)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pathhier_spark.plans.checkpoint import CheckpointManager
from pathhier_spark.plans.pipeline import run_pipeline, triple_precision_recall
from pathhier_spark.sources import corpus as corpus_mod


@pytest.fixture(scope="module")
def corpus(spark):
    c = corpus_mod.generate(n_classes=120, n_docs=300, seed=42)
    return corpus_mod.to_spark(spark, c)


def _file_tree(root):
    return {
        os.path.relpath(os.path.join(d, n), root): os.stat(os.path.join(d, n)).st_mtime_ns
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


def _count_compiles(monkeypatch):
    """A list that grows by one entry per OntologyIndex.compile call."""
    from pathhier_spark.operators.linking import OntologyIndex

    calls = []
    compile_ = OntologyIndex.compile.__func__

    def counting(cls, ontology):
        calls.append(ontology)
        return compile_(cls, ontology)

    monkeypatch.setattr(OntologyIndex, "compile", classmethod(counting))
    return calls


def test_pipeline_pr_and_resume(spark, corpus, tmp_path_factory, spark_jobs):
    docs, onto, gold_triples, gold_mentions, xref_pairs, gold_components = corpus
    root = str(tmp_path_factory.mktemp("ckpt"))

    out = run_pipeline(spark, docs, onto, root)

    # --- triple P/R >= 0.95 (BASELINE.json metric) ---
    pr = triple_precision_recall(out["triples"], gold_triples,
                                 keys=["url", "subj_id", "pred", "obj_id"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr

    # --- lineage rows exist for every stage ---
    lineage = out["lineage"].collect()
    stages = {r["stage"] for r in lineage}
    assert {"extracted", "mentions", "links", "links_rescored", "triples",
            "canonical_nodes", "edges"} <= stages

    # bootstrap re-scoring calibrates: correct links (high fused score)
    # must receive higher mean p1 than the sub-threshold tail
    rescored = out["links_rescored"]
    hi = rescored.filter(F.col("link_score") >= 0.75).agg(F.avg("p1")).collect()[0][0]
    lo_rows = rescored.filter(F.col("link_score") < 0.5).agg(F.avg("p1")).collect()[0]
    if lo_rows[0] is not None:
        assert hi > lo_rows[0]
    assert hi is not None and hi > 0.5
    assert all(r["wall_ms"] >= 0 and r["rows"] > 0 for r in lineage)

    # --- resume: rerun skips all stages (no new lineage rows), same rows,
    # touches no file and runs only the two fingerprint aggregates (two
    # jobs each under AQE): committed stages are read with their recorded
    # schema, not by a schema-inference job ---
    n_lineage_before = len(lineage)
    files_before = _file_tree(root)
    out2, n_jobs = spark_jobs(lambda: run_pipeline(spark, docs, onto, root), "resume")
    assert n_jobs <= 4
    assert _file_tree(root) == files_before
    assert len(out2["lineage"].collect()) == n_lineage_before
    assert out2["triples"].count() == out["triples"].count()

    # --- edges are partitioned by pred on disk ---
    assert any(
        p.startswith("pred=") for p in os.listdir(os.path.join(root, "edges"))
    )


def test_pipeline_determinism(spark, corpus, tmp_path_factory):
    docs, onto, *_ = corpus
    r1 = str(tmp_path_factory.mktemp("d1"))
    r2 = str(tmp_path_factory.mktemp("d2"))
    t1 = run_pipeline(spark, docs, onto, r1)["triples"]
    t2 = run_pipeline(spark, docs, onto, r2)["triples"]
    h1 = t1.select(F.sum(F.xxhash64("url", "subj_id", "pred", "obj_id").cast("decimal(38,0)")).alias("h")).collect()[0]["h"]
    h2 = t2.select(F.sum(F.xxhash64("url", "subj_id", "pred", "obj_id").cast("decimal(38,0)")).alias("h")).collect()[0]["h"]
    assert h1 == h2
    assert t1.count() == t2.count()


def test_canonical_components_match_oracle(spark, corpus):
    from pathhier_spark.operators.canonicalize import connected_components

    *_, xref_pairs, gold_components = corpus
    got = connected_components(xref_pairs)
    # same partition of nodes into components as the gold labeling
    joined = got.join(gold_components, got["node"] == gold_components["xref"])
    # map: our component label -> gold component label must be 1:1
    pairs = joined.select("component", F.col("component").alias("c2"), "xref",
                          gold_components["component"].alias("gold_c")) if False else joined
    m = pairs.groupBy(got["component"]).agg(
        F.countDistinct(gold_components["component"]).alias("n_gold")
    )
    assert m.filter(F.col("n_gold") > 1).count() == 0
    m2 = pairs.groupBy(gold_components["component"]).agg(
        F.countDistinct(got["component"]).alias("n_ours")
    )
    assert m2.filter(F.col("n_ours") > 1).count() == 0


def test_crash_resume_recomputes_only_missing_stage(spark, corpus, tmp_path_factory):
    """SURVEY §5 item 6: kill after stage k, rerun, identical output. We
    simulate the crash by deleting a late stage's committed output; the rerun
    must recompute ONLY that stage and reproduce identical rows."""
    import shutil

    docs, onto, *_ = corpus
    root = str(tmp_path_factory.mktemp("crash"))
    out1 = run_pipeline(spark, docs, onto, root)
    h = lambda df: df.select(  # noqa: E731
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")
    ).collect()[0]["h"]
    edges_hash = h(out1["edges"])
    n_lineage = len(out1["lineage"].collect())

    shutil.rmtree(os.path.join(root, "edges"))  # "crash" lost the last stage

    out2 = run_pipeline(spark, docs, onto, root)
    lineage2 = out2["lineage"].collect()
    # exactly one new lineage row (the recomputed edges stage)
    assert len(lineage2) == n_lineage + 1
    assert lineage2[-1]["stage"] == "edges"
    assert h(out2["edges"]) == edges_hash


def test_resume_keys_on_input_content(spark, tmp_path_factory, monkeypatch):
    """Stage fingerprints hash the inputs' content, not their size: a crawl
    of the same size with one page edited reruns every document-dependent
    stage and matches a fresh-root run; an alias edit reruns only the
    stages that read the ontology. Every run compiles the ontology once,
    for all the stages it reruns."""
    c = corpus_mod.generate(n_classes=40, n_docs=40, seed=11)
    docs, onto, *_ = corpus_mod.to_spark(spark, c)
    root = str(tmp_path_factory.mktemp("content"))
    cols = ["url", "sent_no", "subj_id", "pred", "obj_id"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    def rerun(d, o):
        n_before = len(CheckpointManager(spark, root).lineage())
        out = run_pipeline(spark, d, o, root)
        new = [r["stage"] for r in out["lineage"].collect()[n_before:]]
        return out, set(new)

    compiles = _count_compiles(monkeypatch)
    base = rows(run_pipeline(spark, docs, onto, root)["triples"])
    assert len(compiles) == 1

    # same page count, one page's html replaced by another page's
    first, other = docs.orderBy("url").limit(2).collect()
    edited = docs.withColumn(
        "html",
        F.when(F.col("url") == first["url"], F.lit(other["html"])).otherwise(
            F.col("html")
        ),
    )
    compiles.clear()
    out, new = rerun(edited, onto)
    assert new == {"extracted", "mentions", "links", "triples",
                   "links_rescored", "edges"}
    assert len(compiles) == 1
    got = rows(out["triples"])
    assert got != base
    fresh = run_pipeline(spark, edited, onto, str(tmp_path_factory.mktemp("fresh")))
    assert got == rows(fresh["triples"])

    # one alias edited: the document stages resume, the rest rerun
    cid = onto.orderBy("class_id").first()["class_id"]
    renamed = onto.withColumn(
        "aliases",
        F.when(
            F.col("class_id") == cid,
            F.transform(
                "aliases",
                lambda a, i: F.when(i == 0, F.concat(a, F.lit(" renamed"))).otherwise(a),
            ),
        ).otherwise(F.col("aliases")),
    )
    compiles.clear()
    _, new = rerun(edited, renamed)
    assert new == {"links", "triples", "links_rescored", "canonical_nodes", "edges"}
    assert len(compiles) == 1


def test_structural_tokens_widen_candidate_recall(spark):
    """J3 wired into the link path (candidate_selector.py:80-107): a class
    crowded out of the candidate top-n by its own tokens alone is linked
    once its parent's tokens join its candidate-generation set."""
    from pathhier_spark import config
    from pathhier_spark.functions.text import tokenize
    from pathhier_spark.operators.linking import candidate_pairs
    from pathhier_spark.plans.pipeline import link_mentions, ontology_token_table
    from pathhier_spark.sources.corpus import ONTOLOGY_SCHEMA

    def klass(cid, aliases, parents=()):
        return (cid, cid, aliases, [], [], list(parents), [], [])

    n_decoys = config.KEEP_TOP_N_CANDIDATES
    onto = spark.createDataFrame(
        [
            klass("A_child", ["greeting"], ["P_parent"]),
            klass("P_parent", ["uniquetok"]),
            # enough uniquetok decoys to fill the top-n without A_child ...
            *[klass(f"D_u{i:02d}", [f"uniquetok filler{i}"]) for i in range(n_decoys)],
            # ... and enough greeting classes that idf(uniquetok) > idf(greeting)
            *[klass(f"D_g{i:02d}", [f"greeting word{i}"]) for i in range(n_decoys + 5)],
        ],
        ONTOLOGY_SCHEMA,
    )
    mentions = spark.createDataFrame([("uniquetok greeting",)], "mention string")

    # without J3 the mention's greeting-token candidate score loses the
    # top-n cut to the uniquetok classes; the true class never gets scored
    plain = candidate_pairs(
        mentions.select(
            F.col("mention").alias("s_id"), tokenize(F.col("mention")).alias("tokens")
        ),
        ontology_token_table(onto),
    )
    assert plain.count() == config.KEEP_TOP_N_CANDIDATES
    assert plain.filter(F.col("t_id") == "A_child").count() == 0
    # with parent tokens folded in, A_child tops candidates and links
    links = {r["mention"]: r["class_id"] for r in link_mentions(mentions, onto).collect()}
    assert links.get("uniquetok greeting") == "A_child"


# --------------------------- incremental ingest ---------------------------


def test_incremental_batches_equal_full_run(spark, corpus, tmp_path_factory,
                                           monkeypatch):
    """Batch-wise incremental ingest == one full run over the union: no
    stage carries corpus-level state (linking IDF is ontology-side), so
    splitting the crawl into batches must not change a single edge. Each
    batch runs the html->text UDF once per batch document and compiles the
    ontology once, for the table-creating write and for a merge alike."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pathhier_spark.operators import extract
    from pathhier_spark.plans.pipeline import run_pipeline_incremental

    docs, onto, *_ = corpus
    full_root = str(tmp_path_factory.mktemp("full"))
    wh_root = str(tmp_path_factory.mktemp("wh_inc"))

    cols = ["subj", "pred", "obj", "url", "provenance"]
    full = run_pipeline(spark, docs, onto, full_root)
    full_edges = {tuple(r) for r in full["edges"].select(*cols).collect()}

    calls = spark.sparkContext.accumulator(0)
    extract_text_py = extract.extract_text_py

    def counting_udf():
        @pandas_udf("string")
        def _udf(html: pd.Series) -> pd.Series:
            calls.add(len(html))
            return html.map(extract_text_py)

        return _udf

    monkeypatch.setattr(extract, "extract_text_udf", counting_udf)
    b1 = docs.filter(F.crc32(F.col("url")) % 2 == 0)
    b2 = docs.filter(F.crc32(F.col("url")) % 2 == 1)
    n1, n2 = b1.count(), b2.count()
    compiles = _count_compiles(monkeypatch)
    run_pipeline_incremental(spark, b1, onto, wh_root, "b1")
    assert calls.value == n1
    assert len(compiles) == 1
    out2 = run_pipeline_incremental(spark, b2, onto, wh_root, "b2")
    assert calls.value == n1 + n2
    assert len(compiles) == 2
    inc_edges = {tuple(r) for r in out2["edges"].select(*cols).collect()}
    assert inc_edges == full_edges
    # partition layout pinned by the first batch survives the merge
    from pathhier_spark.sources.warehouse import Warehouse

    man = Warehouse(spark, wh_root).manifest("kg_edges")
    assert man["partition_by"] == ["pred"]


def test_incremental_recrawl_replaces_and_tombstones(spark, corpus,
                                                     tmp_path_factory):
    """A re-crawled url's edges are replaced wholesale; a re-crawl that
    yields no triples removes the url's stale edges entirely."""
    from pathhier_spark.plans.pipeline import run_pipeline_incremental

    docs, onto, *_ = corpus
    wh_root = str(tmp_path_factory.mktemp("wh_rec"))
    cols = ["subj", "pred", "obj", "url", "provenance"]
    out1 = run_pipeline_incremental(spark, docs, onto, wh_root, "b1")
    edges1 = out1["edges"].select(*cols)
    # pick a url that produced edges
    some_url = edges1.select("url").first()["url"]
    before = {tuple(r) for r in
              edges1.filter(F.col("url") == some_url).collect()}
    assert before

    # recrawl 1: same url, new content = the html of a DIFFERENT doc that
    # yields different triples
    other = docs.filter(F.col("url") != some_url).orderBy("url").first()
    recrawl = (
        docs.filter(F.col("url") == some_url)
        .select(
            "url", "warc_ts",
            F.lit(other["html"]).alias("html"),
            F.lit(other["text"]).alias("text"),
            "lang",
        )
    )
    out2 = run_pipeline_incremental(spark, recrawl, onto, wh_root, "b2")
    after = {tuple(r) for r in out2["edges"].select(*cols)
             .filter(F.col("url") == some_url).collect()}
    delta = {tuple(r) for r in out2["edges_delta"].select(*cols).collect()}
    assert after == delta and after != before
    # untouched urls unchanged
    n_other_before = edges1.filter(F.col("url") != some_url).count()
    assert out2["edges"].filter(F.col("url") != some_url).count() == n_other_before

    # recrawl 2: same url, empty page -> tombstone drops every edge
    empty = recrawl.select(
        "url", "warc_ts",
        F.lit(b"<html><body></body></html>").alias("html"),
        F.lit("").alias("text"),
        "lang",
    )
    out3 = run_pipeline_incremental(spark, empty, onto, wh_root, "b3")
    assert out3["edges"].filter(F.col("url") == some_url).count() == 0
    assert out3["edges"].filter(F.col("url") != some_url).count() == n_other_before
    # replaying the same batch id is a no-op (idempotent resume)
    out4 = run_pipeline_incremental(spark, empty, onto, wh_root, "b3")
    assert out4["edges"].count() == n_other_before


def test_bootstrap_rescore_matches_bootstrap_loop_model(spark, corpus, spark_jobs):
    """bootstrap_rescore_links fits the seed table directly; its p1 must be
    the score of the model bootstrap_loop returns over the same inputs. It
    runs at most 12 Spark jobs, its caller's collect included."""
    from pathhier_spark.operators.bootstrap import (
        bootstrap_loop,
        bootstrap_seed_labels,
    )
    from pathhier_spark.operators.extract import extract_mentions, with_extracted_text
    from pathhier_spark.operators.linking import (
        FEATURE_COLS,
        OntologyIndex,
        lr_score,
        pair_features,
    )
    from pathhier_spark.plans.pipeline import bootstrap_rescore_links, link_mentions

    docs, onto, *_ = corpus
    m = extract_mentions(
        with_extracted_text(docs).select("url", F.col("extracted_text").alias("text"))
    )
    links = link_mentions(
        m.select(F.col("subj_mention").alias("mention")).union(
            m.select(F.col("obj_mention").alias("mention"))
        ),
        onto,
    ).localCheckpoint(eager=True)
    rows, n_jobs = spark_jobs(
        lambda: bootstrap_rescore_links(spark, links, onto).collect(),
        "bootstrap_rescore_links",
    )
    assert n_jobs <= 12
    got = {(r["mention"], r["class_id"]): r["p1"] for r in rows}

    class_names = F.broadcast(onto.select("class_id", "name"))
    feats = pair_features(links.join(class_names, "class_id"), "mention", "name").select(
        F.col("mention").alias("s_id"), F.col("class_id").alias("t_id"), *FEATURE_COLS
    ).localCheckpoint(eager=True)
    seed_pairs = bootstrap_seed_labels(
        feats.select(F.col("s_id").alias("mention")).distinct(),
        OntologyIndex.compile(onto),
    )
    assert seed_pairs.limit(1).count() == 1
    seed = pair_features(
        seed_pairs.join(class_names, "class_id"), "mention", "name"
    ).select(*FEATURE_COLS, "label")
    model, _ = bootstrap_loop(spark, feats, seed, n_iterations=3)
    want = {
        (r["s_id"], r["t_id"]): r["p1"]
        for r in lr_score(feats, model.coef, model.intercept)
        .select("s_id", "t_id", F.round("p1", 6).alias("p1"))
        .collect()
    }
    assert got == want


def test_checkpoint_lineage_counts_match_spark(spark, tmp_path):
    """Lineage row counts come from the parquet footers; they must equal
    Spark's counts, partition values included (escaped, null, empty)."""
    from pathhier_spark.plans.checkpoint import CheckpointManager

    preds = ["a/b", "x=y", "é", None, "", "plain", "plain", "50%"]
    df = spark.createDataFrame(
        [(p, i) for i in range(5) for p in preds], "pred string, n int"
    ).repartition(3)
    cp = CheckpointManager(spark, str(tmp_path))
    part = cp.stage("part", lambda: df, partition_by=["pred"])
    flat = cp.stage("flat", lambda: df)
    rows = {r["stage"]: r for r in cp.lineage()}

    want = {
        f"pred={r['pred']}": r["count"]
        for r in part.groupBy("pred").count().collect()
    }
    got = {p["partition"]: p["rows"] for p in json.loads(rows["part"]["partition_rows"])}
    assert got == want and rows["part"]["rows"] == df.count() == 40
    assert json.loads(rows["flat"]["partition_rows"]) == [
        {"partition": "*", "rows": flat.count()}
    ]
    assert rows["flat"]["rows"] == 40


def test_checkpoint_crash_before_lineage_is_not_resumed(spark, tmp_path, monkeypatch):
    """A run killed after its parquet write but before its lineage row
    leaves the directory holding another fingerprint's rows; a later run
    asking for the last committed fingerprint must rebuild, not read them."""
    def frame(*ns):
        return lambda: spark.createDataFrame([(n,) for n in ns], "n int")

    def killed(row):
        raise RuntimeError("killed before the lineage row")

    root = str(tmp_path)
    CheckpointManager(spark, root).stage("s", frame(1, 2), fingerprint="A")
    crashed = CheckpointManager(spark, root)
    monkeypatch.setattr(crashed, "_append_lineage", killed)
    with pytest.raises(RuntimeError):
        crashed.stage("s", frame(9), fingerprint="B")

    cp = CheckpointManager(spark, root)
    got = cp.stage("s", frame(1, 2), fingerprint="A")
    assert sorted(r["n"] for r in got.collect()) == [1, 2]
    assert [r["fingerprint"] for r in cp.lineage()] == ["A", "A"]
