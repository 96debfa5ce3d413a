"""Bootstrap loop end-to-end + BOW embedding averaging (M3/M5)."""

import pytest
from pyspark.sql import functions as F

from pathhier_spark.operators.bootstrap import bootstrap_loop
from pathhier_spark.operators.embeddings import entity_bow_embeddings
from pathhier_spark.operators.linking import FEATURE_COLS, OntologyIndex, pair_features
from pathhier_spark.plans.pipeline import expand_structural_tokens, ontology_token_table
from pathhier_spark.sources import corpus as corpus_mod


def test_bootstrap_loop_e2e(spark):
    """Candidates: string pairs; positives share tokens, negatives don't.
    The loop must learn to score true pairs high and accumulate training
    rows with lr_iter provenance that the final fit excludes."""
    pos = [(f"s{i}", f"t{i}", f"alpha beta {i}", f"alpha beta {i}") for i in range(30)]
    neg = [(f"s{i}", f"u{i}", f"alpha beta {i}", "zq xw yk") for i in range(30)]
    cand = spark.createDataFrame(
        pos + neg, "s_id string, t_id string, s_txt string, t_txt string"
    )
    feats = pair_features(cand, "s_txt", "t_txt").select(
        "s_id", "t_id", *FEATURE_COLS
    ).cache()
    seed = spark.createDataFrame(
        [(1.0, 0.0, 0.9, 0.9, 0.9, 1), (0.5, 1.0, 0.1, 0.0, 0.0, 0),
         (0.9, 0.1, 0.8, 0.8, 0.7, 1), (0.4, 0.9, 0.0, 0.1, 0.0, 0)],
        ", ".join(f"{c} double" for c in FEATURE_COLS) + ", label int",
    )
    model, train = bootstrap_loop(spark, feats, seed, n_iterations=3)
    provs = {r["provenance"] for r in train.select("provenance").distinct().collect()}
    assert "seed" in provs and any(p.startswith("lr_iter") for p in provs)
    # learned model separates: token_jaccard=1 pair scores higher than 0
    from pathhier_spark.operators.linking import lr_score

    scored = lr_score(feats, model.coef, model.intercept)
    avg = scored.groupBy(F.col("t_id").substr(1, 1).alias("side")).agg(
        F.avg("p1").alias("p")
    )
    got = {r["side"]: r["p"] for r in avg.collect()}
    assert got["t"] > got["u"]


def test_bootstrap_seed_labels(spark):
    """Reference-faithful seed construction (extract_training_data.py:179-271):
    positives from exact alias matches, hard negatives from candidate ranks
    >3, easy negatives pseudo-random — all three provenances present, no
    pair labeled both ways, determinism across runs."""
    from pathhier_spark.operators.bootstrap import bootstrap_seed_labels
    from pathhier_spark.operators.extract import extract_mentions, with_extracted_text

    c = corpus_mod.generate(n_classes=50, n_docs=100, seed=5)
    docs, onto, *_ = corpus_mod.to_spark(spark, c)
    ext = with_extracted_text(docs).select("url", F.col("extracted_text").alias("text"))
    m = extract_mentions(ext)
    mentions = (
        m.select(F.col("subj_mention").alias("mention"))
        .union(m.select(F.col("obj_mention").alias("mention")))
        .distinct()
    )
    seeds = bootstrap_seed_labels(mentions, OntologyIndex.compile(onto))
    counts = {
        r["provenance"]: r["n"]
        for r in seeds.groupBy("provenance").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts.get("seed_pos", 0) > 0
    assert counts.get("seed_easyneg", 0) > 0
    # positives come only from alias matches; labels are consistent per pair
    per_pair = seeds.groupBy("mention", "class_id").agg(
        F.countDistinct("label").alias("nl")
    )
    assert per_pair.filter(F.col("nl") > 1).count() == 0
    # deterministic
    again = {
        (r["mention"], r["class_id"], r["label"], r["provenance"])
        for r in bootstrap_seed_labels(mentions, OntologyIndex.compile(onto)).collect()
    }
    assert again == {
        (r["mention"], r["class_id"], r["label"], r["provenance"])
        for r in seeds.collect()
    }


def _spark_seed_labels(mentions, ontology, *, n_hard=2, n_easy=2, seed=42):
    """bootstrap_seed_labels as a pure Spark chain (candidate_pairs over
    alias_token_table, joins and windows): the reference the index probe
    is held to."""
    from pyspark.sql import Window

    from pathhier_spark.functions.text import normalize_string, tokenize
    from pathhier_spark.operators.linking import alias_token_table, candidate_pairs

    aliases = ontology.select(
        F.col("class_id"), F.explode("aliases").alias("alias")
    ).select("class_id", normalize_string(F.col("alias")).alias("norm_alias"))
    m = mentions.select(
        F.col("mention"), normalize_string(F.col("mention")).alias("norm_m")
    ).distinct()
    positives = (
        m.join(F.broadcast(aliases), m["norm_m"] == aliases["norm_alias"])
        .select("mention", "class_id")
        .distinct()
    )
    pos_mentions = positives.select("mention").distinct()

    m_tokens = pos_mentions.select(
        F.col("mention").alias("s_id"), tokenize(F.col("mention")).alias("tokens")
    )
    cands = candidate_pairs(
        m_tokens, alias_token_table(ontology), top_n=2 + n_hard
    ).select(
        F.col("s_id").alias("mention"), F.col("t_id").alias("class_id"), "rank"
    )
    hard = (
        cands.filter((F.col("rank") > 3) & (F.col("rank") <= 2 + n_hard))
        .join(positives, ["mention", "class_id"], "left_anti")
        .select("mention", "class_id")
    )

    classes = ontology.select("class_id")
    hw = Window.partitionBy("mention").orderBy(
        F.xxhash64("mention", "class_id", F.lit(seed)), F.col("class_id")
    )
    excl_counts = (
        positives.select("mention", "class_id")
        .union(cands.select("mention", "class_id"))
        .distinct()
        .groupBy("mention")
        .agg(F.count(F.lit(1)).alias("n_excl"))
    )
    max_excl = excl_counts.agg(F.max("n_excl")).collect()[0][0] or 0
    drawn = (
        pos_mentions.join(F.broadcast(excl_counts), "mention", "left")
        .select("mention", F.coalesce("n_excl", F.lit(0)).alias("n_excl"))
        .crossJoin(F.broadcast(classes))
        .withColumn("hr", F.row_number().over(hw))
        .filter(F.col("hr") <= n_easy + max_excl)
        .filter(F.col("hr") <= F.lit(n_easy) + F.col("n_excl"))
        .join(positives, ["mention", "class_id"], "left_anti")
        .join(cands.select("mention", "class_id"), ["mention", "class_id"], "left_anti")
    )
    rw = Window.partitionBy("mention").orderBy("hr")
    easy = (
        drawn.withColumn("rr", F.row_number().over(rw))
        .filter(F.col("rr") <= n_easy)
        .select("mention", "class_id")
    )
    return (
        positives.select(
            "mention", "class_id", F.lit(1).alias("label"),
            F.lit("seed_pos").alias("provenance"),
        )
        .union(hard.select(
            "mention", "class_id", F.lit(0).alias("label"),
            F.lit("seed_hardneg").alias("provenance"),
        ))
        .union(easy.select(
            "mention", "class_id", F.lit(0).alias("label"),
            F.lit("seed_easyneg").alias("provenance"),
        ))
    )


def _corpus_mentions(spark):
    from pathhier_spark.operators.extract import extract_mentions, with_extracted_text

    c = corpus_mod.generate(n_classes=50, n_docs=100, seed=5)
    docs, onto, *_ = corpus_mod.to_spark(spark, c)
    ext = with_extracted_text(docs).select("url", F.col("extracted_text").alias("text"))
    m = extract_mentions(ext)
    return m.select(F.col("subj_mention").alias("mention")).union(
        m.select(F.col("obj_mention").alias("mention"))
    ), onto


def _tie_heavy_mentions(spark, tie_heavy_ontology):
    ontology, mentions = tie_heavy_ontology
    # alias spellings that only match after normalize_string
    variants = [f" {c['aliases'][0].upper().replace(' ', '-')}" for c in ontology[::3]]
    onto = spark.createDataFrame(
        [tuple(c.values()) for c in ontology], corpus_mod.ONTOLOGY_SCHEMA
    )
    m_df = spark.createDataFrame([(m,) for m in mentions + variants], "mention string")
    return m_df, onto


@pytest.mark.parametrize("inputs", ["corpus", "tie_heavy"])
def test_seed_labels_match_spark_oracle(spark, tie_heavy_ontology, inputs):
    """The index probe gives the Spark chain's seed table exactly."""
    from pathhier_spark.operators.bootstrap import bootstrap_seed_labels

    if inputs == "corpus":
        mentions, onto = _corpus_mentions(spark)
    else:
        mentions, onto = _tie_heavy_mentions(spark, tie_heavy_ontology)
    mentions = mentions.localCheckpoint(eager=True)
    cols = ["mention", "class_id", "label", "provenance"]
    seeds = bootstrap_seed_labels(mentions, OntologyIndex.compile(onto))
    got = [tuple(r) for r in seeds.select(*cols).collect()]
    want = {tuple(r) for r in _spark_seed_labels(mentions, onto).select(*cols).collect()}
    assert len(got) == len(set(got))
    assert set(got) == want
    assert {r[3] for r in want} == {"seed_pos", "seed_hardneg", "seed_easyneg"}


def test_entity_bow_embeddings(spark):
    ents = spark.createDataFrame(
        [("e1", ["alpha", "beta"]), ("e2", ["alpha"]), ("e3", ["zzz_oov"])],
        "ent_id string, tokens array<string>",
    )
    vecs = spark.createDataFrame(
        [("alpha", [1.0, 0.0]), ("beta", [0.0, 1.0])],
        "token string, vector array<double>",
    )
    got = {r["ent_id"]: r["embedding"] for r in entity_bow_embeddings(ents, vecs).collect()}
    assert got["e1"] == pytest.approx([0.5, 0.5])
    assert got["e2"] == pytest.approx([1.0, 0.0])
    # OOV: deterministic, in (-1, 1)
    oov1 = got["e3"]
    assert all(-1.0 <= x <= 1.0 for x in oov1)
    got2 = {r["ent_id"]: r["embedding"] for r in entity_bow_embeddings(ents, vecs).collect()}
    assert got2["e3"] == pytest.approx(oov1)


def test_structural_token_expansion(spark):
    """Reference parity (candidate_selector.py:80-103): all_tokens =
    own(alias+def) + parent(ALIAS) + child(ALIAS) — relatives contribute
    alias tokens only, never their definition tokens."""
    from pathhier_spark.operators.linking import alias_token_table

    c = corpus_mod.generate(n_classes=30, n_docs=5, seed=3)
    _, onto, *_ = corpus_mod.to_spark(spark, c)
    base = ontology_token_table(onto)
    expanded = expand_structural_tokens(onto, base)
    b = {r["ent_id"]: set(r["tokens"]) for r in base.collect()}
    a = {r["ent_id"]: set(r["tokens"]) for r in alias_token_table(onto).collect()}
    e = {r["ent_id"]: set(r["tokens"]) for r in expanded.collect()}
    # expansion is a superset everywhere; own tokens keep alias+definition
    assert all(b[k] <= e[k] for k in b)
    rows = onto.collect()
    parents = {r["class_id"]: list(r["subClassOf"]) + list(r["part_of"]) for r in rows}
    with_parent = [k for k, p in parents.items() if p]
    assert with_parent
    children = {}
    for k, ps in parents.items():
        for p in ps:
            children.setdefault(p, []).append(k)
    for k in b:
        # exact reference set: own ∪ parent-alias ∪ child-alias
        expect = set(b[k])
        for p in parents.get(k, []):
            if p in a:
                expect |= a[p]
        for ch in children.get(k, []):
            expect |= a[ch]
        assert e[k] == expect, k
    # the expansion must actually add something somewhere
    assert any(e[k] > b[k] for k in b)


def test_bootstrap_final_fit_reuses_seed_rows(spark):
    """The final de-bootstrapped model must equal an LR fit on an
    INDEPENDENT collect of train minus the lr_iter rows — proving the
    iteration-0 row reuse (same table, same thinning filter, same row
    order) changes nothing."""
    from pathhier_spark.operators.bootstrap import (
        collect_training_rows,
        fit_lr,
    )

    pos = [(f"s{i}", f"t{i}", f"alpha beta {i}", f"alpha beta {i}") for i in range(30)]
    neg = [(f"s{i}", f"u{i}", f"alpha beta {i}", "zq xw yk") for i in range(30)]
    cand = spark.createDataFrame(
        pos + neg, "s_id string, t_id string, s_txt string, t_txt string"
    )
    feats = pair_features(cand, "s_txt", "t_txt").select(
        "s_id", "t_id", *FEATURE_COLS
    ).cache()
    seed = spark.createDataFrame(
        [(1.0, 0.0, 0.9, 0.9, 0.9, 1), (0.5, 1.0, 0.1, 0.0, 0.0, 0),
         (0.9, 0.1, 0.8, 0.8, 0.7, 1), (0.4, 0.9, 0.0, 0.1, 0.0, 0)],
        ", ".join(f"{c} double" for c in FEATURE_COLS) + ", label int",
    )
    model, train = bootstrap_loop(spark, feats, seed, n_iterations=3)
    final_train = train.filter(~F.col("provenance").startswith("lr_iter"))
    expected = fit_lr(collect_training_rows(final_train))
    assert model.coef == expected.coef
    assert model.intercept == expected.intercept


# --- jl_project (round 5) ---

def test_jl_signs_deterministic_and_pm1():
    from pathhier_spark.operators.embeddings import jl_signs

    s1 = jl_signs(4, 8)
    s2 = jl_signs(4, 8)
    assert s1 == s2
    assert all(v in (-1, 1) for row in s1 for v in row)
    assert len(s1) == 4 and all(len(r) == 8 for r in s1)


def test_jl_project_exact_integer_output(spark):
    from pathhier_spark.operators.embeddings import jl_project, jl_signs

    import math

    vecs = [(0, [0.5, -0.25, 1.0]), (1, [0.0, 0.125, -0.5])]
    df = spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>"
    )
    out = {
        r["vec_id"]: r["proj"]
        for r in jl_project(df, in_dim=3, out_dim=2).collect()
    }
    signs = jl_signs(2, 3)
    for vid, vec in vecs:
        q = [math.floor(x * 1_000_000) for x in vec]
        expect = [sum(qi * s for qi, s in zip(q, row)) for row in signs]
        assert out[vid] == expect


def test_jl_project_preserves_self_similarity_ordering(spark):
    from pathhier_spark.operators.embeddings import jl_project

    # identical vectors must project identically; a sign-flipped vector
    # must project to the exact negation (linearity)
    # dyadic values: exact in float32 AND x*1e6 integral, so
    # floor(-x*1e6) == -floor(x*1e6) holds exactly
    base = [0.25, -0.75, 0.5, 0.875]
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, [-x for x in base])],
        "vec_id bigint, embedding array<float>",
    )
    out = {
        r["vec_id"]: r["proj"]
        for r in jl_project(df, in_dim=4, out_dim=3).collect()
    }
    assert out[0] == out[1]
    assert out[2] == [-v for v in out[0]]
