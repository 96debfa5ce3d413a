"""Linking stage vs a pure-Python port of the reference candidate selector."""

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pathhier_spark import config
from pathhier_spark.functions import oracle
from pathhier_spark.functions.text import idf_table
from pathhier_spark.operators.linking import (
    FEATURE_COLS,
    candidate_pairs,
    entity_token_table,
    fuse_channels,
    lr_score,
    pair_features,
)


def _oracle_candidates(source, target, top_n=20):
    """candidate_selector.py:111-178 semantics on (id -> token set) dicts."""
    t_total = len(target) + 1
    postings = defaultdict(set)
    for tid, toks in target.items():
        for t in set(toks):
            postings[t].add(tid)
    idf = {t: math.log(t_total / (len(ids) + 1)) for t, ids in postings.items()}
    out = {}
    for sid, toks in source.items():
        scores = defaultdict(float)
        # first-occurrence order: the order Spark's per-pair sum adds them
        for t in dict.fromkeys(toks):
            for tid in postings.get(t, ()):
                scores[tid] += idf[t]
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
        out[sid] = ranked
    return out


SOURCE = {
    "s1": ["glycolysis", "glucose", "breakdown"],
    "s2": ["mapk", "signaling"],
    "s3": ["citrate", "cycle"],
    "s4": ["nothing", "shared"],
    "s5": ["glucose", "signaling", "cycle"],
}
TARGET = {
    "t1": ["glycolysis", "glucose"],
    "t2": ["mapk", "signaling", "cascade"],
    "t3": ["citrate", "cycle", "tca"],
    "t4": ["glucose", "transport"],
    "t5": ["signaling", "cycle"],
    "t6": ["unrelated", "tokens"],
}


def _tok_df(spark, d):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(d.items())], "ent_id string, tokens array<string>"
    )


def test_candidate_pairs_vs_oracle(spark):
    got_df = candidate_pairs(_tok_df(spark, SOURCE), _tok_df(spark, TARGET))
    got = defaultdict(list)
    for r in got_df.orderBy("s_id", "rank").collect():
        got[r["s_id"]].append((r["t_id"], r["cand_score"]))
    want = _oracle_candidates(SOURCE, TARGET)
    for sid, ranked in want.items():
        if not ranked:
            assert sid not in got
            continue
        assert [t for t, _ in got[sid]] == [t for t, _ in ranked]
        for (gt, gs), (wt, ws) in zip(got[sid], ranked):
            assert gs == pytest.approx(ws)


def test_candidate_idf_floor_prunes_hot_tokens(spark):
    # a token present in (almost) every target entity has idf < ln(20) once
    # the target side is big enough; the floor must remove those candidates
    target = {f"t{i}": ["hot", f"rare{i}"] for i in range(40)}
    source = {"s0": ["hot"], "s1": ["rare7", "hot"]}
    got = candidate_pairs(
        _tok_df(spark, source),
        _tok_df(spark, target),
        idf_floor=config.IDF_LIMIT,
    )
    rows = got.collect()
    # 'hot': idf = ln(41/41) = 0 < ln 20 -> pruned; only rare7 match remains
    assert {(r["s_id"], r["t_id"]) for r in rows} == {("s1", "t7")}


def test_pair_features_vs_oracle(spark):
    pairs = [
        ("Glycolysis / Gluconeogenesis", "glycolysis gluconeogenesis"),
        ("MAPK-signaling pathway", "mapk cascade"),
        ("the of", "the of"),
        ("abc", "abd"),
    ]
    df = spark.createDataFrame(pairs, "kb_cls string, pw_cls string")
    got = pair_features(df, "kb_cls", "pw_cls").collect()
    for (kb, pw), row in zip(pairs, got):
        want = oracle.pair_features(kb, pw)
        assert row["len_diff_perc"] == pytest.approx(want["len_diff_perc"])
        assert row["token_jaccard"] == pytest.approx(want["token_jaccard"])
        for n in (3, 4, 5):
            assert row[f"ngram{n}_jaccard"] == pytest.approx(
                want[f"{n}gram_jaccard"]
            ), (kb, pw, n)


def test_lr_score_is_sigmoid(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0, 0.0), (1.0, 1.0, 1.0, 1.0, 1.0)],
        ", ".join(f"{c} double" for c in FEATURE_COLS),
    )
    got = lr_score(df, [1.0, 2.0, 0.5, 0.25, 0.25], -2.0).collect()
    assert got[0]["p1"] == pytest.approx(1 / (1 + math.exp(2.0)))
    assert got[1]["p1"] == pytest.approx(1 / (1 + math.exp(-2.0)))


def test_fuse_channels(spark):
    rows = [
        ("a", "x", 0.8, "name"),
        ("a", "x", 0.6, "name"),
        ("a", "x", 0.4, "def"),
        ("a", "y", 0.2, "name"),  # 0.75*0.2 = 0.15 < 0.25 -> dropped
        ("b", "z", 0.0, "def"),  # 0.25*0 -> dropped
    ]
    df = spark.createDataFrame(rows, "s_id string, t_id string, score double, data_type string")
    got = {(r["s_id"], r["t_id"]): r["score"] for r in fuse_channels(df).collect()}
    assert got == {("a", "x"): pytest.approx(0.75 * 0.8 + 0.25 * 0.4)}


def test_entity_token_table(spark):
    df = spark.createDataFrame(
        [("e1", "MAPK-signaling", "a cascade of events")],
        "uid string, name string, definition string",
    )
    got = entity_token_table(df, "uid", ["name", "definition"]).collect()[0]
    # 'a' survives: the stopword set keeps only len>1 words
    # (candidate_selector.py:32 — one-letter words are meaningful here)
    assert got["tokens"] == ["mapk", "signaling", "a", "cascade", "events"]


def _oracle_link(mentions, ontology):
    """link_mentions semantics in pure Python: J3 token sets (own alias +
    definition tokens, plus the alias tokens of parents and children),
    IDF candidates top-20 by (score desc, class_id), max alias/definition
    jaccard fused 0.75/0.25, threshold 0.25, top-1 by (score desc,
    class_id)."""
    tok = oracle.tokenize_string

    def toks(strings):
        return {t for s in strings for t in tok(s)}

    classes = {c["class_id"]: c for c in ontology}
    expanded = {cid: toks(c["aliases"]) | toks(c["definition"]) for cid, c in classes.items()}
    for cid, c in classes.items():
        for parent in c["subClassOf"] + c["part_of"]:
            if parent in classes:
                expanded[cid] |= toks(classes[parent]["aliases"])
                expanded[parent] |= toks(c["aliases"])
    source = {m: list(tok(m)) for m in mentions}
    cands = _oracle_candidates(source, expanded, top_n=config.KEEP_TOP_N_CANDIDATES)
    out = {}
    for m, ranked in cands.items():
        m_toks = set(tok(m))
        scored = []
        for cid, _ in ranked:
            c = classes[cid]
            name_s = max(oracle.jaccard(m_toks, set(tok(a))) for a in c["aliases"])
            def_s = max(
                (oracle.jaccard(m_toks, set(tok(d))) for d in c["definition"]),
                default=0.0,
            )
            score = config.NAME_WEIGHT * name_s + config.DEF_WEIGHT * def_s
            if score >= config.SIMSCORE_THRESHOLD:
                scored.append((-score, cid))
        if scored:
            neg, cid = min(scored)
            out[m] = (cid, -neg)
    return out


def test_link_mentions_vs_oracle(spark, tie_heavy_ontology):
    """The one linking path, row for row, on a seeded random ontology whose
    small vocabulary makes shared tokens, candidate-score ties and
    channel-score ties common."""
    from pathhier_spark.plans.pipeline import link_mentions
    from pathhier_spark.sources.corpus import ONTOLOGY_SCHEMA

    ontology, mentions = tie_heavy_ontology
    onto = spark.createDataFrame(
        [tuple(c.values()) for c in ontology], ONTOLOGY_SCHEMA
    )
    m_df = spark.createDataFrame([(m,) for m in mentions], "mention string")

    got = {
        r["mention"]: (r["class_id"], r["link_score"])
        for r in link_mentions(m_df, onto).collect()
    }
    want = _oracle_link(mentions, ontology)
    assert {m: c for m, (c, _) in got.items()} == {m: c for m, (c, _) in want.items()}
    for m, (_, score) in want.items():
        assert got[m][1] == pytest.approx(score, abs=1e-9), m


def _ontology_frame(spark, classes):
    """(class_id, aliases, definition, parents) tuples -> ontology frame."""
    from pathhier_spark.sources.corpus import ONTOLOGY_SCHEMA

    return spark.createDataFrame(
        [(cid, cid, al, [], df, list(par), [], []) for cid, al, df, par in classes],
        ONTOLOGY_SCHEMA,
    )


def _spark_idf(tokens):
    return {r["token"]: r["idf"].hex() for r in idf_table(tokens).collect()}


def test_index_idf_bit_identical_to_idf_table(spark):
    """The index's IDFs are idf_table's, bit for bit, for the J3 postings
    and for the alias-only postings. With 11 classes the IDF of a token in
    3 classes is ln 3, where Python's math.log is one ulp off the JVM's."""
    import random

    from pathhier_spark.operators.linking import OntologyIndex, alias_token_table
    from pathhier_spark.plans.pipeline import expand_structural_tokens, ontology_token_table

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(8)]
    ids = [f"K{i:02d}" for i in range(11)]
    classes = [
        (
            cid,
            [" ".join(rng.sample(vocab, rng.randint(1, 2))) for _ in range(rng.randint(1, 2))],
            [" ".join(rng.sample(vocab, 2))] if rng.random() < 0.5 else [],
            rng.sample(ids[:i], min(i, 1)),
        )
        for i, cid in enumerate(ids)
    ]
    onto = _ontology_frame(spark, classes)
    tables = OntologyIndex.compile(onto).tables

    want = _spark_idf(expand_structural_tokens(onto, ontology_token_table(onto)))
    assert {t: idf.hex() for t, (idf, _) in tables.postings.items()} == want
    want_alias = _spark_idf(alias_token_table(onto))
    assert {t: idf.hex() for t, (idf, _) in tables.alias_postings.items()} == want_alias
    # the ln 3 case occurs in both tables
    for postings in (tables.postings, tables.alias_postings):
        assert any(len(cids) == 3 for _, cids in postings.values())


def test_index_ranks_tied_scores_like_candidate_pairs(spark):
    """A mathematical tie at the top-20 cut: with 27 classes, alpha (in 8
    classes) scores ln(28/9) and beta + gamma (in 13 and 17 classes) score
    ln 2 + ln(14/9), the same real number. The JVM's log puts the first
    above the second; Python's math.log makes them equal, which would drop
    another class at rank 20 and reorder the top 4. The index must keep
    candidate_pairs' ranks on the J3 postings and on the alias-only ones
    the bootstrap hard negatives use."""
    from pathhier_spark.functions.text import tokenize
    from pathhier_spark.operators.linking import (
        OntologyIndex,
        alias_token_table,
        rank_candidates,
    )
    from pathhier_spark.plans.pipeline import expand_structural_tokens, ontology_token_table

    alpha = {2, 5, 8, 11, 14, 17, 19, 20}
    classes = [
        (f"C{i:02d}", ["alpha"] if i in alpha else ["beta gamma"], [], [])
        for i in range(21)
    ]
    classes += [(f"G{i}", ["gamma"], [], []) for i in range(4)]
    classes += [(f"F{i}", ["delta"], [], []) for i in range(2)]
    onto = _ontology_frame(spark, classes)
    mention = spark.createDataFrame([("beta gamma alpha",)], "mention string").select(
        F.col("mention").alias("s_id"), tokenize(F.col("mention")).alias("tokens")
    )
    tables = OntologyIndex.compile(onto).tables
    toks = ["beta", "gamma", "alpha"]

    def spark_ranks(target, top_n):
        return [r["t_id"] for r in candidate_pairs(mention, target, top_n=top_n)
                .orderBy("rank").collect()]

    j3 = spark_ranks(expand_structural_tokens(onto, ontology_token_table(onto)), 20)
    assert j3[:8] == sorted(f"C{i:02d}" for i in alpha) and "C18" not in j3
    assert rank_candidates(toks, tables.postings, 20) == j3
    top4 = spark_ranks(alias_token_table(onto), 4)
    assert top4 == ["C02", "C05", "C08", "C11"]
    assert rank_candidates(toks, tables.alias_postings, 4) == top4


def test_link_mentions_job_count(spark, spark_jobs, tie_heavy_ontology):
    """One ontology collect, then the mention distinct and the probe."""
    from pathhier_spark.plans.pipeline import link_mentions
    from pathhier_spark.sources.corpus import ONTOLOGY_SCHEMA

    ontology, mentions = tie_heavy_ontology
    onto = spark.createDataFrame(
        [tuple(c.values()) for c in ontology], ONTOLOGY_SCHEMA
    ).localCheckpoint(eager=True)
    m_df = spark.createDataFrame([(m,) for m in mentions], "mention string")
    _, n = spark_jobs(
        lambda: link_mentions(m_df, onto).localCheckpoint(eager=True),
        "test_link_mentions_job_count",
    )
    assert n <= 3


# --------------------------- dictionary_augment ---------------------------


def test_dictionary_augment_hand_case(spark):
    from pathhier_spark.operators.linking import dictionary_augment

    phrases = spark.createDataFrame(
        [(1, "spring yellow saddle"), (2, "click here"),
         (3, "goldenrod lavender spring yellow saddle")],
        "phrase_id long, phrase string",
    )
    dic = spark.createDataFrame(
        [(10, "goldenrod lavender spring yellow saddle"),
         (11, "spring yellow"), (12, "azure rose")],
        "cls_id long, cls_name string",
    )
    got = {r["phrase_id"]: r
           for r in dictionary_augment(phrases, dic).collect()}
    # 2/3 (cls 11) beats 3/5 (cls 10)
    assert got[1]["cls_id"] == 11 and got[1]["jacc_fp"] == 666666
    assert got[1]["is_new"] is True
    # exact alias: not new
    assert got[3]["cls_id"] == 10 and got[3]["jacc_fp"] == 1000000
    assert got[3]["is_new"] is False
    # no class above threshold: NULL row kept
    assert got[2]["cls_id"] is None and got[2]["is_new"] is None


def test_dictionary_augment_tie_breaks_min_cls(spark):
    from pathhier_spark.operators.linking import dictionary_augment

    phrases = spark.createDataFrame(
        [(1, "red widget")], "phrase_id long, phrase string"
    )
    dic = spark.createDataFrame(
        [(20, "red widget"), (7, "red widget")],
        "cls_id long, cls_name string",
    )
    got = dictionary_augment(phrases, dic).collect()[0]
    assert got["cls_id"] == 7


def test_dictionary_augment_prefix_filter_lossless(spark):
    """Prefix-filtered candidates must equal the brute-force cross
    product above threshold (the AllPairs bound, bipartite form)."""
    from pyspark.sql import functions as F

    from pathhier_spark.operators.linking import dictionary_augment

    vocab = ["a", "b", "c", "d", "e", "f", "g", "h"]
    # deterministic token soup: phrase i / class j get hash-derived sets
    phrases = spark.createDataFrame(
        [(i, " ".join(v for k, v in enumerate(vocab)
                      if (i * 7 + k * 3) % 5 < 2))
         for i in range(30)],
        "phrase_id long, phrase string",
    ).filter(F.length("phrase") > 0)
    dic = spark.createDataFrame(
        [(j, " ".join(v for k, v in enumerate(vocab)
                      if (j * 11 + k * 5) % 7 < 3))
         for j in range(40)],
        "cls_id long, cls_name string",
    ).filter(F.length("cls_name") > 0)
    got = {
        r["phrase_id"]: (r["cls_id"], r["jacc_fp"])
        for r in dictionary_augment(phrases, dic, threshold=0.5).collect()
    }
    # brute force in python
    pts = {r["phrase_id"]: set(r["phrase"].split())
           for r in phrases.collect()}
    cts = {r["cls_id"]: set(r["cls_name"].split()) for r in dic.collect()}
    for pid, ps in pts.items():
        best = None
        for cid in sorted(cts):
            cs = cts[cid]
            inter = len(ps & cs)
            jfp = (1000000 * inter) // (len(ps) + len(cs) - inter)
            if jfp >= 500000 and (best is None or jfp > best[1]):
                best = (cid, jfp)
        assert got[pid] == (best if best else (None, None)), pid
