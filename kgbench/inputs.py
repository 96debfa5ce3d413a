"""Seeded input builders for the two workloads.

Every builder writes parquet under a run directory and returns the paths
plus what the checks need (gold triples, the expected final table). The
same seed always gives the same inputs; the pipeline only ever sees the
parquet files. Inputs are written with pyarrow, which keeps set-up a
small share of a run; only the seeded kg_edges table goes through the
pipeline's own Warehouse writer.

* crawl_batch    -- a small corpus replicated under distinct urls,
                    each page padded with script/style/head boilerplate that
                    extraction must strip, over an ontology whose classes
                    share synonym xrefs in chains. Varies: document size and
                    count against a fixed, shared mention vocabulary.
* recrawl_ingest -- a kg_edges table seeded from gold plus a plan of small
                    batches of new, re-crawled and emptied pages. Varies:
                    table-to-batch ratio.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pathhier_spark.sources import corpus as corpus_mod
from pathhier_spark.sources.warehouse import Warehouse

SIZES = {
    "crawl_batch": {"n_classes": 100, "base_docs": 500, "replicas": 30,
                    "pad_kb": (1, 3), "pad_variants": 8, "chain": (2, 6)},
    "recrawl_ingest": {"n_classes": 100, "table_docs": 2000, "n_batches": 4,
                       "new": 10, "recrawl": 20, "emptied": 10},
}
# tiny sizes for the benchmark's own smoke test
SMOKE_SIZES = {
    "crawl_batch": {"n_classes": 60, "base_docs": 40, "replicas": 3,
                    "pad_kb": (1, 2), "pad_variants": 2, "chain": (3, 5)},
    "recrawl_ingest": {"n_classes": 60, "table_docs": 100, "n_batches": 3,
                       "new": 3, "recrawl": 4, "emptied": 2},
}

EDGE_SCHEMA = "subj string, pred string, obj string, url string, provenance string"
GOLD_SCHEMA = "url string, subj_id string, pred string, obj_id string"
EDGES_TABLE = "kg_edges"

_STRINGS = pa.list_(pa.string())
ONTOLOGY_ARROW = pa.schema([
    ("class_id", pa.string()), ("name", pa.string()), ("aliases", _STRINGS),
    ("synonyms", _STRINGS), ("definition", _STRINGS), ("subClassOf", _STRINGS),
    ("part_of", _STRINGS), ("instances", _STRINGS),
])
DOCUMENTS_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
# several files per table, so Spark scans each input with parallel tasks
FILES_PER_TABLE = 8


@dataclass
class Inputs:
    docs: str = ""
    ontology: str = ""
    gold: list[dict] = field(default_factory=list)  # gold triples of the base corpus
    replicas: int = 1
    n_docs: int = 0
    # recrawl_ingest only
    warehouse: str = ""
    batches: list[str] = field(default_factory=list)
    batch_docs: list[int] = field(default_factory=list)
    seed_edges: dict = field(default_factory=dict)  # url -> Counter of edges
    # url -> Counter of edges after each batch prefix; index i = after batch i
    expected: list[dict] = field(default_factory=list)
    recrawled: list[set] = field(default_factory=list)
    emptied: list[set] = field(default_factory=list)
    stale: list[dict] = field(default_factory=list)  # url -> edges replaced


def canonical_map(ontology: list[dict]) -> dict[str, str]:
    """class_id -> canonical id: the smallest node of its component in the
    graph that links every class to its synonym xrefs. Independent of the
    pipeline's Spark implementation, which must agree with it."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for o in ontology:
        for s in o["synonyms"]:
            a, b = find(o["class_id"]), find(s)
            if a != b:
                parent[max(a, b)] = min(a, b)
        find(o["class_id"])
    return {o["class_id"]: find(o["class_id"]) for o in ontology}


def _padding(rng: random.Random, size: int) -> tuple[str, str]:
    """Boilerplate before and after a page's text. Only script, style and
    head blocks hold characters, so extraction leaves exactly the text."""
    words = ["var", "function", "return", "window", "data", "config", "this",
             "null", "true", "push", "length", "color", "margin", "0px",
             "font", "display", "none", "block", "item", "value"]

    def blob(n: int) -> str:
        out, total = [], 0
        while total < n:
            w = rng.choice(words) + str(rng.randrange(1000))
            out.append(w)
            total += len(w) + 1
        return " ".join(out)

    third = max(size // 3, 1)
    head = (
        f"<html><head><title>{blob(40)}</title><meta charset=\"utf-8\">"
        f"<script type=\"text/javascript\">{blob(third)};</script>"
        f"<style>{blob(third)}</style></head><body><div class=\"main\"><p>"
    )
    tail = f"</p></div><script>{blob(third)};</script></body></html>"
    return head, tail


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // FILES_PER_TABLE) or 1
    for i in range(0, max(len(rows), 1), step):
        pq.write_table(
            pa.Table.from_pylist(rows[i : i + step], schema=schema),
            os.path.join(path, f"part-{i // step:05d}.parquet"),
        )


def _replicas(spark: SparkSession, n: int):
    return spark.range(n).select(F.col("id").alias("rep"))


def _replicated_url(url: str):
    """The url of one replica, as the crawl_batch builder names it."""
    return F.concat(F.col(url), F.lit("/r"), F.col("rep").cast("string"))


def build_crawl(spark: SparkSession, root: str, seed: int, size: dict) -> Inputs:
    c = corpus_mod.generate(size["n_classes"], size["base_docs"], seed=seed)
    rng = random.Random(seed)
    chain_synonyms(c.ontology, rng, *size["chain"])
    # variant sizes spread evenly over pad_kb, so every seed pads the same
    # number of bytes; only the boilerplate text and its assignment vary
    lo, hi = size["pad_kb"]
    n_pads = size["pad_variants"]
    pads = [
        _padding(rng, int(1024 * (lo + (hi - lo) * k / max(n_pads - 1, 1))))
        for k in range(n_pads)
    ]
    inp = Inputs(
        docs=f"{root}/docs", ontology=f"{root}/ontology", gold=c.gold_triples,
        replicas=size["replicas"], n_docs=size["base_docs"] * size["replicas"],
    )
    write_parquet(c.ontology, ONTOLOGY_ARROW, inp.ontology)
    docs = []
    for rep in range(inp.replicas):
        for d in c.documents:
            head, tail = pads[rng.randrange(n_pads)]
            docs.append({**d, "url": f"{d['url']}/r{rep}",
                         "html": (head + d["text"] + tail).encode("utf-8")})
    write_parquet(docs, DOCUMENTS_ARROW, inp.docs)
    return inp


def gold_frame(spark: SparkSession, inp: Inputs):
    """Gold triples of the replicated corpus, under the replicated urls."""
    gold = spark.createDataFrame(
        [(g["url"], g["subj_id"], g["pred"], g["obj_id"]) for g in inp.gold],
        GOLD_SCHEMA,
    )
    return gold.crossJoin(_replicas(spark, inp.replicas)).select(
        _replicated_url("url").alias("url"), "subj_id", "pred", "obj_id"
    )


def chain_synonyms(ontology: list[dict], rng: random.Random, lo: int, hi: int) -> None:
    """Link consecutive classes of chains through shared synonym xrefs, so
    connected components needs several rounds to converge. Chain lengths
    cycle through lo..hi (the same for every seed); membership is random."""
    order = list(range(len(ontology)))
    rng.shuffle(order)
    i = n_chain = 0
    while i < len(order):
        chain = order[i : i + lo + n_chain % (hi - lo + 1)]
        for j, (a, b) in enumerate(zip(chain, chain[1:])):
            xref = f"CHAIN:{n_chain:05d}.{j:02d}"
            ontology[a]["synonyms"] = ontology[a]["synonyms"] + [xref]
            ontology[b]["synonyms"] = ontology[b]["synonyms"] + [xref]
        i += len(chain)
        n_chain += 1


EMPTY_HTML = b"<html><head><title>gone</title></head><body></body></html>"


def build_recrawl(spark: SparkSession, root: str, seed: int, size: dict) -> Inputs:
    n_table, n_batches = size["table_docs"], size["n_batches"]
    per_batch = size["new"] + size["recrawl"]
    c = corpus_mod.generate(
        size["n_classes"], n_table + n_batches * per_batch, seed=seed
    )
    canon = canonical_map(c.ontology)
    edges_of: dict[str, Counter] = {}
    for g in c.gold_triples:
        edges_of.setdefault(g["url"], Counter())[
            (canon[g["subj_id"]], g["pred"], canon[g["obj_id"]])
        ] += 1
    pool = c.documents
    inp = Inputs(
        ontology=f"{root}/ontology", warehouse=f"{root}/warehouse",
        n_docs=n_table,
    )
    write_parquet(c.ontology, ONTOLOGY_ARROW, inp.ontology)

    state = {d["url"]: edges_of[d["url"]] for d in pool[:n_table]}
    inp.seed_edges = dict(state)
    rows = [
        (s, p, o, url, "pathhier_spark")
        for url, edges in state.items()
        for (s, p, o), n in edges.items()
        for _ in range(n)
    ]
    Warehouse(spark, inp.warehouse).write(
        spark.createDataFrame(rows, EDGE_SCHEMA), EDGES_TABLE,
        partition_by=["pred"], fingerprint="seed",
    )

    rng = random.Random(seed)
    nxt = n_table
    for b in range(n_batches):
        batch = []
        live = sorted(state)
        picked = rng.sample(live, size["recrawl"] + size["emptied"])
        recrawled, emptied = picked[: size["recrawl"]], picked[size["recrawl"] :]
        stale = {}
        for url in recrawled:
            doc = pool[nxt]
            nxt += 1
            batch.append({**doc, "url": url})
            stale[url] = state[url] - edges_of[doc["url"]]
            state[url] = edges_of[doc["url"]]
        for url in emptied:
            batch.append({**pool[0], "url": url, "html": EMPTY_HTML, "text": ""})
            del state[url]
        for i in range(size["new"]):
            doc = pool[nxt]
            nxt += 1
            url = f"https://example.org/new/{b}/{i}"
            batch.append({**doc, "url": url})
            state[url] = edges_of[doc["url"]]
        inp.batches.append(f"{root}/batch_{b:03d}")
        write_parquet(batch, DOCUMENTS_ARROW, inp.batches[-1])
        inp.batch_docs.append(len(batch))
        inp.expected.append(dict(state))
        inp.recrawled.append(set(recrawled))
        inp.emptied.append(set(emptied))
        inp.stale.append(stale)
    return inp


BUILDERS = {
    "crawl_batch": build_crawl,
    "recrawl_ingest": build_recrawl,
}


def build(spark: SparkSession, workload: str, root: str, seed: int, smoke: bool) -> Inputs:
    os.makedirs(root, exist_ok=True)
    size = (SMOKE_SIZES if smoke else SIZES)[workload]
    return BUILDERS[workload](spark, root, seed, size)
