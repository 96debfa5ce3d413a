"""Deterministic synthetic corpus: Common-Crawl-style pages + ontology + gold.

Generates the north-rule input shape (BASELINE.json input_hint):
    documents(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
              lang STRING)
plus the broadcast dictionary (FIXTURES.md §2 shape, mirroring the PW-ontology
records built at pathhier/pathway_kb_loader.py:294-308) and gold tables
(mentions, triples, xref components) known by construction — so the pytest
harness can assert triple P/R >= 0.95 and byte-identical extracted text
without any external data. Seeded; two runs produce identical rows.

Document text grammar: each sentence is
    "<subject alias> <trigger> <object alias>."
with triggers drawn from a closed lexicon mapped onto the reference's closed
predicate vocabulary (pathhier/constants.py:213-221).
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

# trigger word -> predicate (closed vocabulary, constants.py:213-221)
TRIGGER_TO_PRED = {
    "binds": "participant",
    "controls": "controller",
    "contains": "component",
    "includes": "member",
    "converts": "to",
    "relates": "other",
}

_CONSONANTS = "bcdfgklmnprstvz"
_VOWELS = "aeiou"


def _make_vocab(n: int, rng: random.Random) -> list[str]:
    """Pronounceable pseudo-words, unique, no trigger collisions."""
    words: list[str] = []
    seen = set(TRIGGER_TO_PRED)
    while len(words) < n:
        w = "".join(
            rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
            for _ in range(rng.randrange(2, 4))
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


@dataclass
class SyntheticCorpus:
    ontology: list[dict] = field(default_factory=list)  # FIXTURES.md §2 shape
    documents: list[dict] = field(default_factory=list)  # north-rule shape
    gold_mentions: list[dict] = field(default_factory=list)  # url, mention, class_id
    gold_triples: list[dict] = field(default_factory=list)  # url, subj/pred/obj ids
    xref_pairs: list[dict] = field(default_factory=list)  # xref_a, xref_b
    gold_components: list[dict] = field(default_factory=list)  # xref, component


def _alias_variants(name: str, rng: random.Random) -> list[str]:
    """Surface-form variants that the normalize/tokenize layer must unify:
    hyphen/underscore/slash joiners and case changes (string_utils.py:5-11)."""
    toks = name.split(" ")
    variants = [name]
    if len(toks) > 1:
        variants.append("-".join(toks))
        variants.append("_".join(toks).upper())
    variants.append(name.title())
    return list(dict.fromkeys(variants))


def generate(
    n_classes: int = 200,
    n_docs: int = 500,
    seed: int = 42,
    ambiguous_frac: float = 0.02,
) -> SyntheticCorpus:
    rng = random.Random(seed)
    vocab = _make_vocab(max(3 * n_classes, 300), rng)
    corpus = SyntheticCorpus()

    # --- ontology -----------------------------------------------------------
    names: list[str] = []
    used = set()
    for i in range(n_classes):
        while True:
            k = rng.choice((2, 2, 3))
            name = " ".join(rng.sample(vocab, k))
            if name not in used:
                used.add(name)
                break
        names.append(name)
    # a small ambiguous tail: classes sharing both tokens of another class in
    # swapped order exercises candidate ranking without breaking top-1
    for i in range(n_classes):
        cid = f"PW:{i:07d}"
        name = names[i]
        parents = [f"PW:{rng.randrange(0, i):07d}"] if i > 0 and rng.random() < 0.5 else []
        corpus.ontology.append(
            {
                "class_id": cid,
                "name": name,
                "aliases": _alias_variants(name, rng),
                "synonyms": [f"KEGG:map{i:05d}"] if rng.random() < 0.3 else [],
                "definition": [
                    " ".join(rng.sample(vocab, 6)) + f" {name} process"
                ],
                "subClassOf": parents,
                "part_of": [],
                "instances": [],
            }
        )

    # --- documents + gold ---------------------------------------------------
    triggers = sorted(TRIGGER_TO_PRED)
    base_ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    langs = ["en"] * 8 + ["de", "fr"]
    for d in range(n_docs):
        url = f"https://example.org/doc/{d}"
        n_sent = rng.randrange(3, 9)
        sents = []
        for _ in range(n_sent):
            a, b = rng.sample(range(n_classes), 2)
            trig = rng.choice(triggers)
            sa = rng.choice(corpus.ontology[a]["aliases"])
            sb = rng.choice(corpus.ontology[b]["aliases"])
            sents.append(f"{sa} {trig} {sb}.")
            corpus.gold_mentions.append(
                {"url": url, "mention": sa, "class_id": corpus.ontology[a]["class_id"]}
            )
            corpus.gold_mentions.append(
                {"url": url, "mention": sb, "class_id": corpus.ontology[b]["class_id"]}
            )
            corpus.gold_triples.append(
                {
                    "url": url,
                    "subj_id": corpus.ontology[a]["class_id"],
                    "pred": TRIGGER_TO_PRED[trig],
                    "obj_id": corpus.ontology[b]["class_id"],
                }
            )
        text = " ".join(sents)
        html = (
            b"<html><head><title>doc</title></head><body><p>"
            + text.encode("utf-8")
            + b"</p></body></html>"
        )
        corpus.documents.append(
            {
                "url": url,
                "warc_ts": base_ts + dt.timedelta(minutes=d),
                "html": html,
                "text": text,
                "lang": rng.choice(langs),
            }
        )

    # --- xref graph for canonicalization (FIXTURES.md §4 cases) -------------
    comp = 0

    def _chain(xs):
        nonlocal comp
        for a, b in zip(xs, xs[1:]):
            corpus.xref_pairs.append({"xref_a": a, "xref_b": b})
        for x in xs:
            corpus.gold_components.append({"xref": x, "component": f"c{comp:04d}"})
        comp += 1

    for i in range(0, n_classes, 4):
        _chain([f"DB{j}:{i:05d}" for j in range(rng.randrange(2, 6))])
    # a hub xref with many neighbors (degree-cap / skew case)
    hub = "HUB:00000"
    spokes = [f"SPOKE:{j:05d}" for j in range(15)]
    for s in spokes:
        corpus.xref_pairs.append({"xref_a": hub, "xref_b": s})
    for x in [hub] + spokes:
        corpus.gold_components.append({"xref": x, "component": f"c{comp:04d}"})
    comp += 1
    # singletons (self-loop rows so they appear in the edge list)
    for j in range(5):
        x = f"SINGLE:{j:05d}"
        corpus.xref_pairs.append({"xref_a": x, "xref_b": x})
        corpus.gold_components.append({"xref": x, "component": f"c{comp:04d}"})
        comp += 1

    return corpus


ONTOLOGY_SCHEMA = (
    "class_id string, name string, aliases array<string>, synonyms array<string>,"
    " definition array<string>, subClassOf array<string>, part_of array<string>,"
    " instances array<string>"
)
DOCUMENTS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def to_spark(spark, corpus: SyntheticCorpus):
    """Materialize the corpus as DataFrames (documents, ontology, golds)."""
    docs = spark.createDataFrame(
        [
            (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
            for d in corpus.documents
        ],
        DOCUMENTS_SCHEMA,
    )
    onto = spark.createDataFrame(
        [tuple(o.values()) for o in corpus.ontology], ONTOLOGY_SCHEMA
    )
    gold_triples = spark.createDataFrame(
        [tuple(g.values()) for g in corpus.gold_triples],
        "url string, subj_id string, pred string, obj_id string",
    )
    gold_mentions = spark.createDataFrame(
        [tuple(g.values()) for g in corpus.gold_mentions],
        "url string, mention string, class_id string",
    )
    xref_pairs = spark.createDataFrame(
        [tuple(x.values()) for x in corpus.xref_pairs], "xref_a string, xref_b string"
    )
    gold_components = spark.createDataFrame(
        [tuple(g.values()) for g in corpus.gold_components],
        "xref string, component string",
    )
    return docs, onto, gold_triples, gold_mentions, xref_pairs, gold_components
