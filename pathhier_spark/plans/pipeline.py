"""The end-to-end KG-construction pipeline (north rule):

    documents ──extract──> mentions ──link──> linked mentions
        ──assemble──> triples ──canonicalize──> canonical node/edge tables

Each stage is a pure DataFrame -> DataFrame function; run_pipeline wires
them through CheckpointManager so any stage resumes idempotently.

Fixed Spark overhead per call is kept off ontology-sized work:
canonicalize_classes collects the synonym graph once and merges it with a
driver-side union-find; bootstrap_rescore_links fits its LR on the seed
table without running the bootstrap iterations its model never uses; and
run_pipeline_incremental evaluates a batch's mentions and edges once each,
however many branches of the commit read them.

Linking semantics (reference chain): token inverted-index candidate join
with IDF scoring (candidate_selector.py:148-178) capped at top-20
(constants.py:16), then name/definition channel scores fused
0.75/0.25 with max-per-channel (pw_aligner.py:290-326) and thresholded at
SIMSCORE_THRESHOLD=0.25, finally top-1 per mention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pathhier_spark import config
from pathhier_spark.functions.text import jaccard, tokenize
from pathhier_spark.operators.canonicalize import union_find_labels
from pathhier_spark.operators.extract import extract_mentions, with_extracted_text
from pathhier_spark.operators.linking import candidate_pairs
from pathhier_spark.plans.checkpoint import CheckpointManager


def ontology_token_table(ontology: DataFrame) -> DataFrame:
    """Class token sets: aliases + definitions (candidate_selector.py:60-78;
    parent/child token expansion J3 available via expand_structural_tokens)."""
    return ontology.select(
        F.col("class_id").alias("ent_id"),
        F.array_distinct(
            F.flatten(
                F.array(
                    F.flatten(F.transform(F.col("aliases"), lambda a: tokenize(a))),
                    F.flatten(F.transform(F.col("definition"), lambda d: tokenize(d))),
                )
            )
        ).alias("tokens"),
    )


def alias_token_table(ontology: DataFrame) -> DataFrame:
    """Alias-ONLY token sets — the source for parent/child structural
    expansion. The reference builds par_tokens/chd_tokens from relatives'
    ALIASES only (candidate_selector.py:80-103: `kb[parent_id]['aliases']`,
    `kb[child_id]['aliases']`), never their definitions."""
    return ontology.select(
        F.col("class_id").alias("ent_id"),
        F.array_distinct(
            F.flatten(F.transform(F.col("aliases"), lambda a: tokenize(a)))
        ).alias("tokens"),
    )


def expand_structural_tokens(ontology: DataFrame, tokens: DataFrame) -> DataFrame:
    """J3 (candidate_selector.py:80-107): each class's token set also
    includes the ALIAS tokens of its subClassOf/part_of parents and of its
    children (reference: all_tokens = own(alias+def) + parent(alias) +
    child(alias) — relatives contribute alias tokens only, not definition
    tokens). Two self-joins over the parent edge list + array_union."""
    parents = ontology.select(
        F.col("class_id").alias("child"),
        F.explode(F.concat(F.col("subClassOf"), F.col("part_of"))).alias("parent"),
    )
    alias_toks = alias_token_table(ontology)
    par_toks = (
        parents.join(alias_toks.withColumnRenamed("ent_id", "parent"), "parent")
        .groupBy("child")
        .agg(F.array_distinct(F.flatten(F.collect_list("tokens"))).alias("ptoks"))
        .withColumnRenamed("child", "ent_id")
    )
    chd_toks = (
        parents.join(alias_toks.withColumnRenamed("ent_id", "child"), "child")
        .groupBy("parent")
        .agg(F.array_distinct(F.flatten(F.collect_list("tokens"))).alias("ctoks"))
        .withColumnRenamed("parent", "ent_id")
    )
    # own tokens stay alias+definition (the `tokens` argument); only the
    # parent/child contributions are alias-only
    base = tokens.select(F.col("ent_id"), F.col("tokens"))
    return (
        base.join(par_toks, "ent_id", "left")
        .join(chd_toks, "ent_id", "left")
        .select(
            "ent_id",
            F.array_distinct(
                F.concat(
                    F.col("tokens"),
                    F.coalesce(F.col("ptoks"), F.array().cast("array<string>")),
                    F.coalesce(F.col("ctoks"), F.array().cast("array<string>")),
                )
            ).alias("tokens"),
        )
    )


def link_mentions(
    mentions: DataFrame,
    ontology: DataFrame,
    *,
    threshold: float = config.SIMSCORE_THRESHOLD,
    top_candidates: int = config.KEEP_TOP_N_CANDIDATES,
    structural_tokens: bool = True,
    broadcast_ontology: bool = True,
) -> DataFrame:
    """mention string -> class_id. Returns (mention, class_id, link_score).

    Chain: distinct mentions -> candidate join (broadcast ontology postings,
    IDF-scored, top-20) -> name channel = max token-jaccard vs any alias,
    def channel = max token-jaccard vs any definition -> 0.75/0.25 fusion ->
    threshold -> top-1 per mention. The mention side is huge (one row per
    distinct surface form) and never shuffles except the final window, which
    keys on mention — uniform.

    structural_tokens=True folds each class's parent/child tokens into its
    candidate-generation token set (J3, candidate_selector.py:80-107 — the
    reference ALWAYS does this), so a mention sharing tokens only with a
    class's parent can still surface that class as a candidate. Channel
    scoring is unchanged: structural tokens widen recall of the candidate
    stage, the alias/definition jaccard channels still decide the link.

    broadcast_ontology=False is the scale knob for dictionaries too large
    to broadcast: the candidate join switches to salted_candidate_pairs
    (hot-token splitting, shuffle join) and the class-record join drops its
    broadcast hint so AQE picks the strategy. Identical output either way
    (asserted in tests)."""
    distinct_mentions = mentions.select(F.col("mention")).distinct()
    m_tokens = distinct_mentions.select(
        F.col("mention").alias("s_id"), tokenize(F.col("mention")).alias("tokens")
    )
    o_tokens = ontology_token_table(ontology)
    if structural_tokens:
        o_tokens = expand_structural_tokens(ontology, o_tokens)
    if broadcast_ontology:
        cands = candidate_pairs(
            m_tokens, o_tokens, top_n=top_candidates, broadcast_target=True
        )
    else:
        # dictionary too large to broadcast (the non-broadcastable regime):
        # salted shuffle join with hot-token splitting — same output,
        # BENCH/SKEW.md documents the 2.96x hot-key win
        from pathhier_spark.operators.linking import salted_candidate_pairs

        cands = salted_candidate_pairs(m_tokens, o_tokens, top_n=top_candidates)
    # channel scores vs the class record (J5 pair expansion: mention x alias)
    classes = ontology.select(
        F.col("class_id").alias("t_id"),
        F.col("aliases"),
        F.col("definition"),
    )
    cls = F.broadcast(classes) if broadcast_ontology else classes
    scored = (
        cands.join(cls, "t_id")
        .withColumn("m_toks", tokenize(F.col("s_id")))
        .withColumn(
            "name_s",
            F.array_max(
                F.transform(
                    F.col("aliases"), lambda a: jaccard(F.col("m_toks"), tokenize(a))
                )
            ),
        )
        .withColumn(
            "def_s",
            F.coalesce(
                F.array_max(
                    F.transform(
                        F.col("definition"),
                        lambda d: jaccard(F.col("m_toks"), tokenize(d)),
                    )
                ),
                F.lit(0.0),
            ),
        )
        .select(
            "s_id",
            "t_id",
            (
                config.NAME_WEIGHT * F.col("name_s")
                + config.DEF_WEIGHT * F.col("def_s")
            ).alias("link_score"),
        )
        .filter(F.col("link_score") >= threshold)
    )
    w = Window.partitionBy("s_id").orderBy(F.col("link_score").desc(), F.col("t_id"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            F.col("s_id").alias("mention"),
            F.col("t_id").alias("class_id"),
            "link_score",
        )
    )


def assemble_triples(mentions: DataFrame, links: DataFrame) -> DataFrame:
    """Join subj/obj mentions to their linked classes -> (url, subj_id,
    pred, obj_id). links is distinct-surface-form-sized — at corpus scale
    that is billions of rows, so NO forced broadcast (VERDICT r1 item 3):
    plain equi-joins, and AQE picks broadcast at runtime iff links actually
    fits (spark.sql.adaptive.autoBroadcastJoinThreshold)."""
    subj = links.select(
        F.col("mention").alias("subj_mention"), F.col("class_id").alias("subj_id")
    )
    obj = links.select(
        F.col("mention").alias("obj_mention"), F.col("class_id").alias("obj_id")
    )
    return (
        mentions.join(subj, "subj_mention")
        .join(obj, "obj_mention")
        .select("url", "sent_no", "subj_id", "pred", "obj_id")
    )


def canonicalize_classes(ontology: DataFrame) -> DataFrame:
    """Canonical ids over the ontology synonym-xref graph: classes sharing a
    synonym xref merge (G1-G3 semantics). Output: (class_id, canonical_id,
    local_id), one row per ontology class.

    The graph is ontology-sized, so it is collected once and merged with
    the reference's driver-side union-find (union_find_labels) instead of
    Spark's per-round star jobs — the same trade link_mentions makes when
    it broadcasts ontology postings from the driver. canonical_id is the
    smallest node of the class's component, which may be a synonym xref
    rather than a class id; local_id is dense from 0 in canonical_id order
    (Python str order is Spark's UTF-8 binary order). Null class ids and
    null synonym elements are not nodes. The result is a small local frame."""
    rows = [
        (r["class_id"], r["synonyms"])
        for r in ontology.select("class_id", "synonyms").collect()
        if r["class_id"] is not None
    ]
    labels = union_find_labels(
        (cid, x) for cid, syns in rows for x in [cid, *(syns or ())] if x is not None
    )
    local_ids = {c: i for i, c in enumerate(sorted(set(labels.values())))}
    schema = T.StructType(
        [
            ontology.schema["class_id"],
            T.StructField("canonical_id", T.StringType(), True),
            T.StructField("local_id", T.LongType(), False),
        ]
    )
    return ontology.sparkSession.createDataFrame(
        [(cid, labels[cid], local_ids[labels[cid]]) for cid, _ in rows], schema
    )


def canonical_edges(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Triple endpoints rewritten to canonical class ids via two broadcast
    joins of the (ontology-sized) canonical-node map — the final KG edge
    shape (subj, pred, obj, url, provenance)."""
    return (
        triples.join(
            F.broadcast(
                canon.select(
                    F.col("class_id").alias("subj_id"),
                    F.col("canonical_id").alias("subj_canon"),
                )
            ),
            "subj_id",
        )
        .join(
            F.broadcast(
                canon.select(
                    F.col("class_id").alias("obj_id"),
                    F.col("canonical_id").alias("obj_canon"),
                )
            ),
            "obj_id",
        )
        .select(
            F.col("subj_canon").alias("subj"),
            "pred",
            F.col("obj_canon").alias("obj"),
            "url",
            F.lit("pathhier_spark").alias("provenance"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    ontology: DataFrame,
    checkpoint_root: str,
) -> dict[str, DataFrame]:
    """Full checkpointed run. Returns the stage outputs keyed by name."""
    cp = CheckpointManager(spark, checkpoint_root)
    n_docs = documents.count()
    fp = f"docs={n_docs}"

    extracted = cp.stage(
        "extracted",
        lambda: with_extracted_text(documents).select(
            "url", "warc_ts", "lang", "extracted_text"
        ),
        fingerprint=fp,
    )
    mentions = cp.stage(
        "mentions",
        lambda: extract_mentions(
            extracted.withColumnRenamed("extracted_text", "text")
        ),
        fingerprint=fp,
    )
    links = cp.stage(
        "links",
        lambda: link_mentions(
            mentions.select(F.col("subj_mention").alias("mention")).union(
                mentions.select(F.col("obj_mention").alias("mention"))
            ),
            ontology,
        ),
        fingerprint=fp,
    )
    triples = cp.stage(
        "triples",
        lambda: assemble_triples(mentions, links),
        fingerprint=fp,
        partition_by=["pred"],
    )
    rescored = cp.stage(
        "links_rescored",
        lambda: bootstrap_rescore_links(spark, links, ontology),
        fingerprint=fp,
    )
    canon = cp.stage(
        "canonical_nodes", lambda: canonicalize_classes(ontology), fingerprint=fp
    )
    edges = cp.stage(
        "edges",
        lambda: canonical_edges(triples, canon),
        fingerprint=fp,
        partition_by=["pred"],
    )
    return {
        "extracted": extracted,
        "mentions": mentions,
        "links": links,
        "links_rescored": rescored,
        "triples": triples,
        "canonical_nodes": canon,
        "edges": edges,
        "lineage": spark.createDataFrame(cp.lineage()),
    }


def run_pipeline_incremental(
    spark: SparkSession,
    new_documents: DataFrame,
    ontology: DataFrame,
    warehouse_root: str,
    batch_id: str,
    *,
    edges_table: str = "kg_edges",
) -> dict[str, DataFrame]:
    """Incremental KG ingest: run extract → link → assemble → canonical
    rewrite on ONE crawl batch and MERGE its edges into the warehouse KG
    table keyed by url — a re-crawled url's edges are replaced wholesale,
    new urls insert, and a url whose re-crawl yields NO triples is
    tombstoned (its stale edges drop). Batch-wise ingest is EXACTLY
    equivalent to a full recompute over the union of all batches (pinned
    in tests): every stage is per-document except linking, whose IDF and
    candidate postings come from the ONTOLOGY side only (link_mentions) —
    no corpus-level statistic exists to drift between batch and full runs.

    Per-batch cost is proportional to the batch (the 10^12-document
    story: the crawl delta, not the corpus, pays extraction+linking);
    the merge commit is copy-on-write (Warehouse.merge — table-
    proportional rewrite, OCC against racing commits, idempotent replay
    per batch_id). For high-frequency small batches, swap the merge for
    an append to a changelog table + apply_changelog() reads, collapsing
    on compaction cadence — see Warehouse.merge's docstring; the updates
    frame built here (upserts + url tombstones) is the changelog row
    shape either way."""
    from pathhier_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, warehouse_root)
    extracted = with_extracted_text(new_documents).select(
        "url", "warc_ts", "lang", "extracted_text"
    )
    # mentions feed both link sides and assemble; edges feed the write, or
    # the upserts and the tombstone anti-join. Each is evaluated once per
    # batch (mentions first, so edges reads it cached) and released after
    # the commit, instead of re-running extraction and linking per branch.
    mentions = extract_mentions(
        extracted.withColumnRenamed("extracted_text", "text")
    ).persist()
    links = link_mentions(
        mentions.select(F.col("subj_mention").alias("mention")).union(
            mentions.select(F.col("obj_mention").alias("mention"))
        ),
        ontology,
    )
    triples = assemble_triples(mentions, links)
    canon = canonicalize_classes(ontology)
    edges = canonical_edges(triples, canon).persist()
    fingerprint = f"batch:{batch_id}"
    try:
        mentions.count()
        edges.count()
        if wh.manifest(edges_table) is None:
            # first batch creates the table (and pins the partition layout
            # every later merge preserves)
            wh.write(
                edges, edges_table, partition_by=["pred"], fingerprint=fingerprint
            )
        else:
            upserts = edges.withColumn("_deleted", F.lit(False))
            tombstones = (
                new_documents.select("url")
                .distinct()
                .join(edges.select("url").distinct(), "url", "left_anti")
                .select(
                    F.lit(None).cast("string").alias("subj"),
                    F.lit(None).cast("string").alias("pred"),
                    F.lit(None).cast("string").alias("obj"),
                    "url",
                    F.lit(None).cast("string").alias("provenance"),
                    F.lit(True).alias("_deleted"),
                )
            )
            wh.merge(
                upserts.unionByName(tombstones),
                edges_table,
                key="url",
                fingerprint=fingerprint,
                delete_col="_deleted",
            )
    finally:
        edges.unpersist()
        mentions.unpersist()
    return {
        "mentions": mentions,
        "links": links,
        "triples": triples,
        "edges_delta": edges,
        "edges": wh.read(edges_table),
    }


def bootstrap_rescore_links(
    spark: SparkSession,
    links: DataFrame,
    ontology: DataFrame,
) -> DataFrame:
    """Bootstrap re-scoring stage (M3, pw_aligner.py:485-530 recast): the
    link table's (mention, class name) pairs are featurized with the exact
    5-feature vector; seed labels follow the reference's independent
    supervision source (extract_training_data.py:179-271): positives from
    exact alias/synonym surface matches, hard negatives from candidate
    ranks 4.., easy negatives pseudo-random — see bootstrap_seed_labels.
    Falls back to link-score extremes only if no alias match exists (e.g. a
    corpus with zero annotated surface forms). An LR fit on the seed table
    then re-scores every link. Output: links + (p1 DOUBLE) calibrated score.

    The model is the one bootstrap_loop returns, without its iterations:
    the loop's final fit drops every row its iterations added
    (pw_aligner.py:587, P8), so that model is exactly fit_lr over the
    collected seed table (asserted equal in tests)."""
    from pathhier_spark.operators.bootstrap import (
        bootstrap_seed_labels,
        collect_training_rows,
        fit_lr,
    )
    from pathhier_spark.operators.linking import (
        FEATURE_COLS,
        lr_score,
        pair_features,
    )

    class_names = F.broadcast(ontology.select(F.col("class_id"), F.col("name")))
    named = links.join(class_names, "class_id")
    feats = pair_features(named, "mention", "name").select(
        F.col("mention").alias("s_id"),
        F.col("class_id").alias("t_id"),
        F.col("link_score"),
        *FEATURE_COLS,
    ).localCheckpoint(eager=True)

    # mentions come from the CHECKPOINTED feats, not from `links` — links'
    # lineage is the whole upstream extraction chain, and re-deriving the
    # mention vocabulary from it would recompute that chain a second time.
    # Same set: feats = links ⋈ class_names on class_id, and every link
    # class_id exists in the ontology by construction of candidate_pairs.
    seed_pairs = bootstrap_seed_labels(
        feats.select(F.col("s_id").alias("mention")).distinct(), ontology
    ).localCheckpoint(eager=True)
    if seed_pairs.limit(1).count() > 0:
        seed = pair_features(
            seed_pairs.join(class_names, "class_id"), "mention", "name"
        ).select(*FEATURE_COLS, "label")
    else:
        seed = feats.filter(
            (F.col("link_score") >= 0.75) | (F.col("link_score") <= 0.3)
        ).select(
            *FEATURE_COLS,
            F.when(F.col("link_score") >= 0.75, F.lit(1))
            .otherwise(F.lit(0))
            .alias("label"),
        )
    model = fit_lr(collect_training_rows(seed.localCheckpoint(eager=True)))
    return lr_score(feats, model.coef, model.intercept).select(
        F.col("s_id").alias("mention"),
        F.col("t_id").alias("class_id"),
        "link_score",
        F.round("p1", 6).alias("p1"),
    )


def triple_precision_recall(
    got: DataFrame, gold: DataFrame, keys: list[str] | None = None
) -> dict[str, float]:
    """A4 (pw_aligner.py:137-174): P/R/F1 of emitted triples vs gold."""
    keys = keys or ["url", "subj_id", "pred", "obj_id"]
    g = got.select(*keys).distinct()
    w = gold.select(*keys).distinct()
    tp = g.join(w, keys, "inner").count()
    n_got = g.count()
    n_gold = w.count()
    precision = tp / n_got if n_got else 0.0
    recall = tp / n_gold if n_gold else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {"precision": precision, "recall": recall, "f1": f1, "tp": tp,
            "n_got": n_got, "n_gold": n_gold}
