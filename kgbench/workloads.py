"""The operations each workload times, their traced twins, and the checks.

An untraced operation is one public pipeline call: ``run_pipeline`` on a
fresh checkpoint root (batch workloads) or one ``run_pipeline_incremental``
batch (recrawl_ingest). A traced operation composes the same layers from
their public functions, materializes each layer's output at its boundary
(``localCheckpoint``) inside its own span, and commits it the way the
untraced call does, so every layer's time and Spark work is its own.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pathhier_spark import config
from pathhier_spark.functions.text import tokenize
from pathhier_spark.operators.extract import extract_mentions, with_extracted_text
from pathhier_spark.operators.linking import candidate_pairs
from pathhier_spark.plans.checkpoint import CheckpointManager
from pathhier_spark.plans.pipeline import (
    assemble_triples,
    bootstrap_rescore_links,
    canonical_edges,
    canonicalize_classes,
    expand_structural_tokens,
    link_mentions,
    ontology_token_table,
    run_pipeline,
    run_pipeline_incremental,
    triple_precision_recall,
)
from pathhier_spark.sources.warehouse import Warehouse

from kgbench.inputs import EDGES_TABLE, Inputs, gold_frame
from kgbench.tracing import cpu_seconds

LAYERS = ["extract_text", "extract_mentions", "link", "assemble", "bootstrap",
          "canonicalize", "edges", "checkpoint", "warehouse"]
MIN_QUALITY = 0.95


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _dirs, names in os.walk(path)
        for n in names
    )


def _mention_column(mentions: DataFrame) -> DataFrame:
    """The mention list run_pipeline hands to link_mentions."""
    return mentions.select(F.col("subj_mention").alias("mention")).union(
        mentions.select(F.col("obj_mention").alias("mention"))
    )


def _candidate_count(mentions: DataFrame, ontology: DataFrame) -> int:
    """Candidate pairs link_mentions scores: its candidate stage with its
    default settings (structural tokens, broadcast ontology)."""
    m_tokens = mentions.distinct().select(
        F.col("mention").alias("s_id"), tokenize(F.col("mention")).alias("tokens")
    )
    o_tokens = expand_structural_tokens(ontology, ontology_token_table(ontology))
    return candidate_pairs(
        m_tokens, o_tokens, top_n=config.KEEP_TOP_N_CANDIDATES, broadcast_target=True
    ).count()


def html_mb(docs: DataFrame) -> float:
    return (docs.agg(F.sum(F.length("html"))).first()[0] or 0) / 1e6


class TracedOp:
    """Spans of one traced operation plus the counters read at its layer
    boundaries; ``layer`` materializes a layer's output inside its span."""

    def __init__(self, tracer, parent: str):
        self.tracer = tracer
        self.parent = parent
        self.counters: dict[str, float] = {}

    def layer(self, name: str, build) -> DataFrame:
        with self.tracer.span(name, self.parent):
            df = build().localCheckpoint(eager=True)
        return df

    def span(self, name: str):
        return self.tracer.span(name, self.parent)

    def link_counters(self, mentions: DataFrame, ontology: DataFrame, links: DataFrame) -> None:
        col = _mention_column(mentions)
        cands = _candidate_count(col, ontology)
        n_links = links.count()
        self.counters.update({
            "link.distinct_mentions": col.distinct().count(),
            "link.candidates": cands,
            "link.links": n_links,
            "link.yield": n_links / cands if cands else 0.0,
        })

    def canon_counters(self, canon: DataFrame) -> None:
        comps = canon.select("canonical_id").distinct().count()
        self.counters["canonicalize.components"] = comps
        self.counters["canonicalize.merge_ratio"] = canon.count() / comps

    def metrics(self) -> dict[str, float]:
        """Per-layer metrics of this operation: busy seconds, jobs and
        failed tasks from the spans, then the boundary counters."""
        spans = self.tracer.of(self.parent)
        out: dict[str, float] = {}
        for name in LAYERS:
            ss = spans.get(name, [])
            secs = sum(s["end"] - s["start"] for s in ss)
            key = {"checkpoint": "checkpoint.commit_s",
                   "warehouse": "warehouse.merge_s"}.get(name, f"{name}.s")
            out[key] = secs
            out[f"{name}.failed_tasks"] = sum(s["failed_tasks"] for s in ss)
            if name in ("link", "bootstrap", "canonicalize"):
                out[f"{name}.jobs"] = sum(s["jobs"] for s in ss)
        out["extract_text.tasks"] = sum(s["tasks"] for s in spans.get("extract_text", []))
        out["layer_sum_s"] = sum(
            s["end"] - s["start"] for ss in spans.values() for s in ss
        )
        out.update(self.counters)
        return out


class BatchWorkload:
    """crawl_batch: full builds, each on a fresh checkpoint root."""

    def __init__(self, spark, inp: Inputs, root: str):
        self.spark = spark
        self.inp = inp
        self.root = root
        self.docs = spark.read.parquet(inp.docs)
        self.ontology = spark.read.parquet(inp.ontology)
        self.builds: list[str] = []
        self.docs_per_op = inp.n_docs

    def has_next(self) -> bool:
        return True

    def _fresh_root(self) -> str:
        path = os.path.join(self.root, f"build_{len(self.builds):03d}")
        self.builds.append(path)
        return path

    def run(self) -> None:
        run_pipeline(self.spark, self.docs, self.ontology, self._fresh_root())

    def run_traced(self, op: TracedOp) -> None:
        """run_pipeline's stages, one span per layer call and one
        ``checkpoint`` span per stage commit."""
        spark, onto = self.spark, self.ontology
        root = self._fresh_root()
        cp = CheckpointManager(spark, root)
        fp = f"docs={self.docs.count()}"

        def commit(stage: str, df: DataFrame, **kw) -> DataFrame:
            with op.span("checkpoint"):
                return cp.stage(stage, lambda: df, fingerprint=fp, **kw)

        extracted = commit("extracted", op.layer(
            "extract_text",
            lambda: with_extracted_text(self.docs).select(
                "url", "warc_ts", "lang", "extracted_text"),
        ))
        mentions = commit("mentions", op.layer(
            "extract_mentions",
            lambda: extract_mentions(extracted.withColumnRenamed("extracted_text", "text")),
        ))
        links = commit("links", op.layer(
            "link", lambda: link_mentions(_mention_column(mentions), onto)))
        triples = commit("triples", op.layer(
            "assemble", lambda: assemble_triples(mentions, links)),
            partition_by=["pred"])
        commit("links_rescored", op.layer(
            "bootstrap", lambda: bootstrap_rescore_links(spark, links, onto)))
        canon = commit("canonical_nodes", op.layer(
            "canonicalize", lambda: canonicalize_classes(onto)))
        commit("edges", op.layer("edges", lambda: canonical_edges(triples, canon)),
               partition_by=["pred"])

        rows = {r["stage"]: r["rows"] for r in cp.lineage()}
        written = dir_bytes(root)
        op.counters.update({
            "extract_text.html_mb": html_mb(self.docs),
            "extract_mentions.rows_out": rows["mentions"],
            "assemble.rows_out": rows["triples"],
            "bootstrap.rows_out": rows["links_rescored"],
            "edges.rows_out": rows["edges"],
            "checkpoint.mb_written": written / 1e6,
            "checkpoint.write_amp": written / max(dir_bytes(os.path.join(root, "edges")), 1),
        })
        op.link_counters(mentions, onto, links)
        op.canon_counters(canon)

    def check(self) -> tuple[int, list[float]]:
        """Every build: triple precision and recall against gold, and
        extracted text byte-identical to the page text."""
        gold = gold_frame(self.spark, self.inp).localCheckpoint(eager=True)
        failed, f1s = 0, []
        for root in self.builds:
            try:
                pr = triple_precision_recall(
                    self.spark.read.parquet(f"{root}/triples"), gold)
                ext = self.spark.read.parquet(f"{root}/extracted")
                # a page missing on either side also counts as a mismatch
                mismatched = (
                    self.docs.select("url", "text")
                    .join(ext.select("url", "extracted_text"), "url", "full_outer")
                    .filter(~F.col("extracted_text").eqNullSafe(F.col("text")))
                    .count()
                )
                ok = (
                    pr["precision"] >= MIN_QUALITY
                    and pr["recall"] >= MIN_QUALITY
                    and mismatched == 0
                    and self.spark.read.parquet(f"{root}/edges").limit(1).count() == 1
                )
            except Exception as e:  # a failed check is a failed build
                print(f"check failed for {root}: {e!r}", flush=True)
                ok, pr = False, {"f1": 0.0}
            failed += not ok
            f1s.append(pr["f1"])
        return failed, f1s


class RecrawlWorkload:
    """recrawl_ingest: one incremental batch per operation, merged into the
    seeded kg_edges table in plan order."""

    def __init__(self, spark, inp: Inputs, root: str):
        self.spark = spark
        self.inp = inp
        self.ontology = spark.read.parquet(inp.ontology)
        self.applied = 0
        self.docs_per_op = statistics.median(inp.batch_docs)

    def has_next(self) -> bool:
        return self.applied < len(self.inp.batches)

    def _next_batch(self) -> tuple[DataFrame, str]:
        b = self.applied
        self.applied += 1
        return self.spark.read.parquet(self.inp.batches[b]), f"b{b:03d}"

    def run(self) -> None:
        docs, batch_id = self._next_batch()
        run_pipeline_incremental(
            self.spark, docs, self.ontology, self.inp.warehouse, batch_id)

    def run_traced(self, op: TracedOp) -> None:
        """run_pipeline_incremental's layers, one span each; the warehouse
        span builds the same upsert-plus-tombstone frame and merges it."""
        docs, batch_id = self._next_batch()
        onto = self.ontology
        extracted = op.layer(
            "extract_text",
            lambda: with_extracted_text(docs).select(
                "url", "warc_ts", "lang", "extracted_text"))
        mentions = op.layer(
            "extract_mentions",
            lambda: extract_mentions(extracted.withColumnRenamed("extracted_text", "text")))
        links = op.layer("link", lambda: link_mentions(_mention_column(mentions), onto))
        triples = op.layer("assemble", lambda: assemble_triples(mentions, links))
        canon = op.layer("canonicalize", lambda: canonicalize_classes(onto))
        edges = op.layer("edges", lambda: canonical_edges(triples, canon))

        wh = Warehouse(self.spark, self.inp.warehouse)
        with op.span("warehouse"):
            upserts = edges.withColumn("_deleted", F.lit(False))
            tombstones = (
                docs.select("url").distinct()
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
            updates = upserts.unionByName(tombstones)
            wh.merge(updates, EDGES_TABLE, key="url",
                     fingerprint=f"batch:{batch_id}", delete_col="_deleted")

        rewritten = wh.read(EDGES_TABLE).count()
        op.counters.update({
            "extract_text.html_mb": html_mb(docs),
            "extract_mentions.rows_out": mentions.count(),
            "assemble.rows_out": triples.count(),
            "edges.rows_out": edges.count(),
            "warehouse.rows_rewritten": rewritten,
            "warehouse.rewrite_ratio": rewritten / max(updates.count(), 1),
            "warehouse.snapshot_mb":
                dir_bytes(wh.manifest(EDGES_TABLE)["snapshot"]) / 1e6,
        })
        op.link_counters(mentions, onto, links)
        op.canon_counters(canon)

    def check(self) -> tuple[int, list[float]]:
        """The final table after the applied batches: untouched urls keep
        their seeded edges exactly, emptied urls are gone, re-crawled urls
        hold none of their replaced edges, and the whole table matches the
        expected edges with precision and recall of at least 0.95."""
        k = self.applied
        if k == 0:
            return 0, []
        rows = (
            Warehouse(self.spark, self.inp.warehouse).read(EDGES_TABLE)
            .select("url", "subj", "pred", "obj").collect()
        )
        got: dict[str, Counter] = {}
        for r in rows:
            got.setdefault(r["url"], Counter())[(r["subj"], r["pred"], r["obj"])] += 1
        expected = self.inp.expected[k - 1]

        touched: set = set()
        stale: dict = {}
        for b in range(k):
            touched |= self.inp.recrawled[b] | self.inp.emptied[b]
            stale.update(self.inp.stale[b])
        untouched_ok = all(
            got.get(u) == e for u, e in self.inp.seed_edges.items() if u not in touched
        )
        emptied_ok = not any(u in got for u in touched if u not in expected)
        replaced_ok = all(
            got.get(u, Counter())[e] <= expected[u][e]
            for u, old in stale.items() if u in expected
            for e in old
        )
        tp = sum(sum((got.get(u, Counter()) & e).values()) for u, e in expected.items())
        n_got = sum(sum(c.values()) for c in got.values())
        n_exp = sum(sum(c.values()) for c in expected.values())
        precision, recall = tp / max(n_got, 1), tp / max(n_exp, 1)
        f1 = 2 * precision * recall / (precision + recall) if tp else 0.0
        ok = (untouched_ok and emptied_ok and replaced_ok
              and precision >= MIN_QUALITY and recall >= MIN_QUALITY)
        if not ok:
            print(f"recrawl check failed: untouched={untouched_ok} emptied={emptied_ok} "
                  f"replaced={replaced_ok} precision={precision:.4f} recall={recall:.4f}",
                  flush=True)
        return (0 if ok else k), [f1]


def make(spark, workload: str, inp: Inputs, root: str):
    cls = RecrawlWorkload if workload == "recrawl_ingest" else BatchWorkload
    return cls(spark, inp, root)


def timed(fn) -> tuple[float, float]:
    """Wall and CPU seconds of one call; the CPU time is that of the
    driver's whole process tree (driver, JVM, Python workers)."""
    pid = os.getpid()
    cpu0, t0 = cpu_seconds(pid), time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return wall, cpu_seconds(pid) - cpu0
