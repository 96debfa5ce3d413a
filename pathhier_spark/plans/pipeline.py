"""The end-to-end KG-construction pipeline (north rule):

    documents ──extract──> mentions ──link──> linked mentions
        ──assemble──> triples ──canonicalize──> canonical node/edge tables

Each stage is a pure DataFrame -> DataFrame function, chained once
(_kg_stages): run_pipeline commits each stage through CheckpointManager so
any stage resumes idempotently; run_pipeline_incremental runs it lazily
and evaluates a batch's mentions and edges once each.

Fixed Spark overhead per call is kept off ontology-sized work: the
ontology is compiled at most once per call on the driver (OntologyIndex,
one collect job, none when every stage resumes) into broadcast postings,
which linking and bootstrap seeding probe from one Arrow-batched Python
function each, and whose union-find gives the canonical nodes;
bootstrap_rescore_links fits its LR on the seed table without running the
bootstrap iterations its model never uses.

Linking semantics (reference chain): token inverted-index candidates with
IDF scoring (candidate_selector.py:148-178) capped at top-20
(constants.py:16), then name/definition channel scores fused
0.75/0.25 with max-per-channel (pw_aligner.py:290-326) and thresholded at
SIMSCORE_THRESHOLD=0.25, finally top-1 per mention.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pathhier_spark import config
from pathhier_spark.operators.canonicalize import canonical_labels
from pathhier_spark.operators.extract import extract_mentions, with_extracted_text
from pathhier_spark.operators.linking import (
    OntologyIndex,
    alias_token_table,
    class_tokens,
)
from pathhier_spark.plans.checkpoint import CheckpointManager


def ontology_token_table(ontology: DataFrame) -> DataFrame:
    """Class token sets: aliases + definitions (candidate_selector.py:60-78;
    expand_structural_tokens adds the J3 parent/child tokens). With
    expand_structural_tokens and candidate_pairs this is the Spark form of
    OntologyIndex's postings, which tests hold the index to."""
    return ontology.select(
        F.col("class_id").alias("ent_id"), class_tokens().alias("tokens")
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


def link_mentions(mentions: DataFrame, ontology: DataFrame) -> DataFrame:
    """mention string -> class_id. Returns (mention, class_id, link_score).

    Chain: distinct mentions -> IDF-scored candidates top-20 -> name
    channel = max token-jaccard vs any alias, def channel = max
    token-jaccard vs any definition -> 0.75/0.25 fusion -> threshold ->
    top-1 per mention. The ontology side is compiled once on the driver
    (OntologyIndex: one collect job) and broadcast; the mention side is
    tokenized by Spark and probed by one mapInPandas function, so it never
    shuffles except for the distinct.

    Each class's candidate-generation token set includes its parents' and
    children's alias tokens (J3, candidate_selector.py:80-107 — the
    reference always does this), so a mention sharing tokens only with a
    class's parent can still surface that class as a candidate. Channel
    scoring is unchanged: structural tokens widen recall of the candidate
    stage, the alias/definition jaccard channels still decide the link.
    No IDF floor prunes the postings."""
    return OntologyIndex.compile(ontology).link(mentions)


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
    local_id), one row per ontology class — see canonical_labels.

    The graph is ontology-sized, so it is collected once and merged with
    the reference's driver-side union-find, the one OntologyIndex runs
    when it compiles the whole ontology, instead of Spark's per-round star
    jobs. The result is a small local frame."""
    rows = ontology.select("class_id", "synonyms").collect()
    return _canonical_frame(ontology, canonical_labels(rows))


def _canonical_frame(ontology: DataFrame, canonical: list) -> DataFrame:
    schema = T.StructType(
        [
            ontology.schema["class_id"],
            T.StructField("canonical_id", T.StringType(), True),
            T.StructField("local_id", T.LongType(), False),
        ]
    )
    return ontology.sparkSession.createDataFrame(canonical, schema)


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


def _content_key(df: DataFrame, *cols) -> str:
    """Row count and an order-insensitive content hash of `cols`, in one
    aggregate job: two inputs get the same key only if they hold the same
    multiset of rows (up to a 64-bit hash collision)."""
    n, h = df.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).first()
    return f"{n}:{h}"


def _kg_stages(
    documents: DataFrame,
    index: Callable[[], OntologyIndex],
    commit: Callable[..., DataFrame],
) -> dict[str, DataFrame]:
    """The stage chain extracted -> mentions -> links -> triples,
    canonical_nodes -> edges. Each stage's build is handed to
    commit(name, build, partition_by=None), and the later stages read what
    commit returns. `index` returns the compiled ontology and is called
    only by builds, so a memoized one compiles at most once per call and
    not at all when commit builds nothing."""
    extracted = commit(
        "extracted",
        lambda: with_extracted_text(documents).select(
            "url", "warc_ts", "lang", "extracted_text"
        ),
    )
    mentions = commit(
        "mentions",
        lambda: extract_mentions(extracted.withColumnRenamed("extracted_text", "text")),
    )
    links = commit(
        "links",
        lambda: index().link(
            mentions.select(F.col("subj_mention").alias("mention")).union(
                mentions.select(F.col("obj_mention").alias("mention"))
            )
        ),
    )
    triples = commit("triples", lambda: assemble_triples(mentions, links), ["pred"])
    canon = commit(
        "canonical_nodes",
        lambda: _canonical_frame(index().ontology, index().canonical),
    )
    edges = commit("edges", lambda: canonical_edges(triples, canon), ["pred"])
    return {
        "extracted": extracted,
        "mentions": mentions,
        "links": links,
        "triples": triples,
        "canonical_nodes": canon,
        "edges": edges,
    }


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    ontology: DataFrame,
    checkpoint_root: str,
) -> dict[str, DataFrame]:
    """Full checkpointed run. Returns the stage outputs keyed by name.

    A stage resumes only when its fingerprint matches the last committed
    one. Fingerprints are content-addressed: the document stages key on the
    documents' content hash, canonical_nodes on the ontology's, and the
    link-dependent stages on both plus the config constants linking reads.
    A different corpus or ontology therefore reruns exactly the stages that
    read it, whatever its size. The ontology is compiled by the first stage
    that reruns and shared by the rest."""
    cp = CheckpointManager(spark, checkpoint_root)
    docs_fp = "docs=" + _content_key(documents, "url", "warc_ts", "lang", "html")
    onto_fp = "onto=" + _content_key(
        ontology, F.to_json(F.struct(*ontology.columns))
    )
    link_fp = (
        f"{docs_fp}|{onto_fp}|link={config.KEEP_TOP_N_CANDIDATES},"
        f"{config.SIMSCORE_THRESHOLD},{config.NAME_WEIGHT},{config.DEF_WEIGHT}"
    )
    fingerprints = {
        "extracted": docs_fp, "mentions": docs_fp, "canonical_nodes": onto_fp
    }
    index = cache(lambda: OntologyIndex.compile(ontology))
    out = _kg_stages(
        documents,
        index,
        lambda name, build, partition_by=None: cp.stage(
            name, build, fingerprint=fingerprints.get(name, link_fp),
            partition_by=partition_by,
        ),
    )
    out["links_rescored"] = cp.stage(
        "links_rescored",
        lambda: _rescore_links(out["links"], index()),
        fingerprint=link_fp,
    )
    out["lineage"] = spark.createDataFrame(cp.lineage())
    return out


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
    The stages are run_pipeline's, uncommitted; the ontology is compiled
    once per batch, for both the link probe and the canonical nodes.

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
    out = _kg_stages(
        new_documents,
        cache(lambda: OntologyIndex.compile(ontology)),
        lambda name, build, partition_by=None: build(),
    )
    # mentions feed both link sides and assemble; edges feed the write, or
    # the upserts and the tombstone anti-join. Each is evaluated once per
    # batch (mentions first, so edges reads it cached) and released after
    # the commit, instead of re-running extraction and linking per branch.
    mentions = out["mentions"].persist()
    edges = out["edges"].persist()
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
        "links": out["links"],
        "triples": out["triples"],
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
    return _rescore_links(links, OntologyIndex.compile(ontology))


def _rescore_links(links: DataFrame, index: OntologyIndex) -> DataFrame:
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

    class_names = F.broadcast(index.ontology.select("class_id", "name"))
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
    # class_id exists in the ontology by construction of the link probe.
    seed = pair_features(
        bootstrap_seed_labels(
            feats.select(F.col("s_id").alias("mention")), index
        ).join(class_names, "class_id"),
        "mention",
        "name",
    ).select(*FEATURE_COLS, "label")
    rows = collect_training_rows(seed.localCheckpoint(eager=True))
    if not rows:
        fallback = feats.filter(
            (F.col("link_score") >= 0.75) | (F.col("link_score") <= 0.3)
        ).select(
            *FEATURE_COLS,
            F.when(F.col("link_score") >= 0.75, F.lit(1))
            .otherwise(F.lit(0))
            .alias("label"),
        )
        rows = collect_training_rows(fallback.localCheckpoint(eager=True))
    model = fit_lr(rows)
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
