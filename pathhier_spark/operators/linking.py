"""Entity linking: token inverted-index candidate join + IDF scoring +
string-feature fusion.

This is the heart of the engine — the reference's CandidateSelector
(pathhier/candidate_selector.py:49-178) and BOW/LR scoring channels
(pathhier/pw_aligner.py:290-326,628-660), in two forms:

  * Spark column chains over any two token tables (candidate_pairs,
    fuse_channels, ...):

    source side:  entity_id -> distinct token set        (explode)
    target side:  entity_id -> distinct token set        (explode)
    candidates:   equi-join on token, groupBy(pair), sum(target idf)
    cap:          row_number window, top-20 per source    (T1)
    features:     5-feature string vector per pair        (M1)
    fusion:       0.75*max(name) + 0.25*max(def)          (A2)

  * OntologyIndex, the KG pipeline's linker: the ontology side compiled
    once on the driver into postings with IDF (the reference builds its
    candidate selector the same way, once), broadcast, and probed by one
    Arrow-batched Python function per mention partition. The same index
    seeds the bootstrap and gives the canonical nodes.

Scale design (100 TB / 10^12 docs):
  * The ontology/dictionary side is small (10^4-10^6 classes) and compiled
    on the driver once per pipeline call — its postings are broadcast, so
    linking never shuffles the (huge) mention side beyond one distinct, and
    its union-find gives the canonical nodes.
  * No IDF floor is applied: config.IDF_LIMIT (pathhier/constants.py:13)
    is available to candidate_pairs as `idf_floor`, but the KG linker keeps
    every posting, as the reference's selector does, because pruning hot
    tokens changes which classes reach the top-20.
  * The per-pair aggregation keys on (source_id, target_id) which is
    near-unique — no skew. AQE handles residual imbalance.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass
from functools import partial

from pyspark.broadcast import Broadcast
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pathhier_spark import config
from pathhier_spark.functions.text import (
    WS_SPLIT_RE,
    char_ngrams,
    idf_table,
    jaccard,
    normalize_string,
    tokenize,
)
from pathhier_spark.operators.canonicalize import canonical_labels


def entity_token_table(
    df: DataFrame,
    id_col: str,
    text_cols: list[str],
    out_tokens: str = "tokens",
) -> DataFrame:
    """Tokenize one or more string columns (candidate_selector.py:60-107
    folds aliases + definitions + parent/child aliases into one token set).
    Pass pre-concatenated alias arrays as additional text via concat_ws
    upstream; here each text col is tokenized and union'd."""
    tok_arrays = [tokenize(c) for c in text_cols]
    merged = tok_arrays[0]
    for t in tok_arrays[1:]:
        merged = F.concat(merged, t)
    return df.select(F.col(id_col), F.array_distinct(merged).alias(out_tokens))


def alias_tokens() -> Column:
    """An ontology row's distinct alias tokens (alias_token_table's column)."""
    return F.array_distinct(
        F.flatten(F.transform(F.col("aliases"), lambda a: tokenize(a)))
    )


def class_tokens() -> Column:
    """An ontology row's own distinct alias + definition tokens
    (ontology_token_table's column). Null when aliases or definition is
    null, as Spark's flatten makes it."""
    return F.array_distinct(
        F.flatten(
            F.array(
                F.flatten(F.transform(F.col("aliases"), lambda a: tokenize(a))),
                F.flatten(F.transform(F.col("definition"), lambda d: tokenize(d))),
            )
        )
    )


def alias_token_table(ontology: DataFrame) -> DataFrame:
    """Alias-ONLY token sets (ent_id, tokens) — the source for parent/child
    structural expansion and for bootstrap hard-negative candidates. The
    reference builds par_tokens/chd_tokens from relatives' ALIASES only
    (candidate_selector.py:80-103: `kb[parent_id]['aliases']`,
    `kb[child_id]['aliases']`), never their definitions."""
    return ontology.select(
        F.col("class_id").alias("ent_id"), alias_tokens().alias("tokens")
    )


@dataclass(frozen=True)
class ProbeTables:
    """What the probes read, shipped to the Python workers once.

    postings / alias_postings: token -> (idf, class ids holding it), over
    the J3 token sets (own alias + definition tokens plus the alias tokens
    of parents and children) and over the alias tokens alone.
    names / defs: class -> token set of each alias / definition.
    by_alias: normalized alias -> classes carrying it."""

    postings: dict[str, tuple[float, tuple[str, ...]]]
    alias_postings: dict[str, tuple[float, tuple[str, ...]]]
    names: dict[str, tuple[frozenset, ...]]
    defs: dict[str, tuple[frozenset, ...]]
    by_alias: dict[str, tuple[str, ...]]


def _postings(token_sets: dict, n_rows: int, log) -> dict:
    """token -> (idf, class ids), idf as idf_table computes it:
    log(doc_total / (df + 1)) with doc_total = ontology rows + 1."""
    holders: dict[str, list[str]] = {}
    for cid, toks in token_sets.items():
        for t in toks:
            holders.setdefault(t, []).append(cid)
    doc_total = float(n_rows + 1)
    idf: dict[int, float] = {}
    for cids in holders.values():
        if len(cids) not in idf:
            idf[len(cids)] = log(doc_total / (len(cids) + 1))
    return {t: (idf[len(cids)], tuple(cids)) for t, cids in holders.items()}


def _token_sets(arrays) -> tuple[frozenset, ...]:
    # a null alias or definition scores jaccard 0.0, like an empty one
    return tuple(frozenset(a or ()) for a in arrays or ())


@dataclass(frozen=True)
class OntologyIndex:
    """The ontology compiled once on the driver for linking and bootstrap
    seeding (the reference's in-memory CandidateSelector,
    candidate_selector.py:49-178): postings with IDF, token sets, the
    normalized-alias dictionary and the canonical map.

    compile() runs one Spark job: a collect of the ontology whose select
    does all tokenizing and normalizing with the same column expressions
    the Spark path uses, so no string is re-tokenized in Python (Spark's
    trim strips only spaces; str.strip strips all whitespace). IDFs are
    evaluated by the JVM's StrictMath.log, the function behind Spark's
    `log`: Python's math.log differs in the last bit for some inputs (ln 3
    among them), and mathematically tied candidate scores (with 27
    classes, ln(28/9) = ln 2 + ln(14/9)) would then order differently at
    the top-20 cut. Rows with a null class_id are never linked and are
    left out. The frame it was compiled from is kept for the Spark steps
    that read the ontology beside the probes (class names, the
    easy-negative draw, the canonical-node frame's schema)."""

    ontology: DataFrame
    tables: ProbeTables
    shipped: Broadcast
    canonical: list[tuple[str, str, int]]

    @classmethod
    def compile(cls, ontology: DataFrame) -> OntologyIndex:
        rows = ontology.select(
            "class_id",
            class_tokens().alias("own"),
            alias_tokens().alias("alias_set"),
            F.transform("aliases", lambda a: tokenize(a)).alias("alias_toks"),
            F.transform("definition", lambda d: tokenize(d)).alias("def_toks"),
            F.transform("aliases", lambda a: normalize_string(a)).alias("norms"),
            F.concat("subClassOf", "part_of").alias("parents"),
            "synonyms",
        ).collect()
        sc = ontology.sparkSession.sparkContext
        classes = {r["class_id"]: r for r in rows if r["class_id"] is not None}
        aliases = {cid: set(r["alias_set"] or ()) for cid, r in classes.items()}
        # J3 (candidate_selector.py:80-107): relatives add their alias
        # tokens; a class whose own token set is null stays without tokens
        expanded = {cid: set(r["own"]) for cid, r in classes.items() if r["own"] is not None}
        for cid, r in classes.items():
            for parent in r["parents"] or ():
                if parent in classes:
                    if cid in expanded:
                        expanded[cid] |= aliases[parent]
                    if parent in expanded:
                        expanded[parent] |= aliases[cid]
        by_alias: dict[str, dict[str, None]] = {}
        for cid, r in classes.items():
            for norm in r["norms"] or ():
                if norm is not None:
                    by_alias.setdefault(norm, {})[cid] = None
        log = sc._jvm.java.lang.StrictMath.log
        tables = ProbeTables(
            postings=_postings(expanded, len(rows), log),
            alias_postings=_postings(aliases, len(rows), log),
            names={cid: _token_sets(r["alias_toks"]) for cid, r in classes.items()},
            defs={cid: _token_sets(r["def_toks"]) for cid, r in classes.items()},
            by_alias={norm: tuple(cids) for norm, cids in by_alias.items()},
        )
        canonical = canonical_labels((r["class_id"], r["synonyms"]) for r in rows)
        return cls(ontology, tables, sc.broadcast(tables), canonical)

    def link(self, mentions: DataFrame) -> DataFrame:
        """(mention) -> (mention, class_id, link_score): link_mentions'
        chain, one probe per distinct mention."""
        return (
            mentions.select("mention")
            .distinct()
            .select("mention", tokenize(F.col("mention")).alias("tokens"))
            .mapInPandas(
                partial(_link_batches, self.shipped),
                "mention string, class_id string, link_score double",
            )
        )

    def alias_matches(self, mentions: DataFrame, top_n: int) -> DataFrame:
        """(mention) -> (mention, positives, ranked) for every distinct
        mention equal to an alias after normalize_string: the classes
        carrying that alias, and the mention's top_n candidates over the
        alias-only postings in rank order (bootstrap seeding)."""
        return (
            mentions.select("mention")
            .distinct()
            .select(
                "mention",
                normalize_string(F.col("mention")).alias("norm"),
                tokenize(F.col("mention")).alias("tokens"),
            )
            .mapInPandas(
                partial(_alias_match_batches, self.shipped, top_n),
                "mention string, positives array<string>, ranked array<string>",
            )
        )


def rank_candidates(tokens, postings: dict, top_n: int) -> list[str]:
    """candidate_pairs for one source: classes sharing a token, scored by
    the sum of the token IDFs, added in the tokens' first-occurrence order
    as Spark's per-pair sum adds them; top_n by (score desc, class_id)."""
    scores: dict[str, float] = {}
    for t in dict.fromkeys(tokens):
        if t in postings:
            idf, cids = postings[t]
            for c in cids:
                scores[c] = scores.get(c, 0.0) + idf
    return heapq.nsmallest(top_n, scores, key=lambda c: (-scores[c], c))


def _jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def _link_batches(shipped: Broadcast, batches):
    import pandas as pd

    t: ProbeTables = shipped.value
    for pdf in batches:
        out = []
        for mention, toks in zip(pdf["mention"], pdf["tokens"]):
            if toks is None:
                continue
            m = frozenset(toks)
            best = None
            for cid in rank_candidates(toks, t.postings, config.KEEP_TOP_N_CANDIDATES):
                if not t.names[cid]:
                    continue  # no alias: Spark's array_max is null
                score = config.NAME_WEIGHT * max(
                    _jaccard(m, a) for a in t.names[cid]
                ) + config.DEF_WEIGHT * max(
                    (_jaccard(m, d) for d in t.defs[cid]), default=0.0
                )
                if score >= config.SIMSCORE_THRESHOLD and (
                    best is None or (-score, cid) < (-best[1], best[0])
                ):
                    best = (cid, score)
            if best is not None:
                out.append((mention, *best))
        if out:
            yield pd.DataFrame(out, columns=["mention", "class_id", "link_score"])


def _alias_match_batches(shipped: Broadcast, top_n: int, batches):
    import pandas as pd

    t: ProbeTables = shipped.value
    for pdf in batches:
        out = [
            (mention, list(t.by_alias[norm]), rank_candidates(toks, t.alias_postings, top_n))
            for mention, norm, toks in zip(pdf["mention"], pdf["norm"], pdf["tokens"])
            if norm in t.by_alias
        ]
        if out:
            yield pd.DataFrame(out, columns=["mention", "positives", "ranked"])


def candidate_pairs(
    source_tokens: DataFrame,
    target_tokens: DataFrame,
    *,
    source_id: str = "s_id",
    target_id: str = "t_id",
    top_n: int = config.KEEP_TOP_N_CANDIDATES,
    idf_floor: float | None = None,
    broadcast_target: bool = True,
    target_doc_total: int | None = None,
) -> DataFrame:
    """candidate_selector.py:148-178 — candidates for s = all t sharing >=1
    token, scored by sum of target-side IDF over the shared tokens; keep the
    top_n per source (pw_aligner.py:186,224).

    Inputs: (id, tokens ARRAY<STRING>) on both sides. Output:
    (s_id, t_id, cand_score DOUBLE, rank INT).
    """
    s = source_tokens.select(
        F.col(source_tokens.columns[0]).alias(source_id),
        F.explode(F.array_distinct(F.col(source_tokens.columns[1]))).alias("token"),
    )
    t_idf = idf_table(
        target_tokens,
        target_tokens.columns[0],
        target_tokens.columns[1],
        doc_total=target_doc_total,
    )
    t = target_tokens.select(
        F.col(target_tokens.columns[0]).alias(target_id),
        F.explode(F.array_distinct(F.col(target_tokens.columns[1]))).alias("token"),
    ).join(t_idf, "token")
    if idf_floor is not None:
        # skew + noise pruning: drop hot tokens up front (constants.py:13)
        t = t.filter(F.col("idf") >= idf_floor)
    if broadcast_target:
        t = F.broadcast(t)
    scored = (
        s.join(t, "token")
        .groupBy(source_id, target_id)
        .agg(F.sum("idf").alias("cand_score"))
    )
    w = Window.partitionBy(source_id).orderBy(
        F.col("cand_score").desc(), F.col(target_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
    )


def pair_features(
    pairs: DataFrame, left_text: str, right_text: str, pad: str = "\x00"
) -> DataFrame:
    """feature_generator.py:25-50 — the exact 5-feature vector per string
    pair, as pure column expressions (no UDF): len_diff_perc, token jaccard,
    char-3/4/5-gram jaccard. `pad` defaults to the reference's NUL; pass a
    different char only for SQL-oracle parity (jaccard is pad-invariant as
    long as the char cannot occur in normalized text)."""
    lt, rt = F.col(left_text), F.col(right_text)
    ltoks, rtoks = tokenize(lt), tokenize(rt)
    out = pairs.withColumn(
        "len_diff_perc",
        F.when(
            F.size(ltoks) > 0,
            F.abs(F.size(ltoks) - F.size(rtoks)).cast("double") / F.size(ltoks),
        ).otherwise(F.lit(0.0)),
    ).withColumn("token_jaccard", jaccard(ltoks, rtoks))
    for n in (3, 4, 5):
        out = out.withColumn(
            f"ngram{n}_jaccard",
            jaccard(char_ngrams(lt, n, pad=pad), char_ngrams(rt, n, pad=pad)),
        )
    return out


FEATURE_COLS = [
    "len_diff_perc",
    "token_jaccard",
    "ngram3_jaccard",
    "ngram4_jaccard",
    "ngram5_jaccard",
]


def lr_score(df: DataFrame, coef: list[float], intercept: float) -> DataFrame:
    """Broadcast-coefficient logistic-regression inference: a pure column
    expression (pw_aligner.py:213-250 predict_proba recast — the model is a
    5-weight dot product; no reason to ship rows to Python)."""
    z = F.lit(intercept)
    for c, w in zip(FEATURE_COLS, coef):
        z = z + F.col(c) * F.lit(float(w))
    return df.withColumn("p1", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def fuse_channels(
    scored: DataFrame,
    *,
    pair_cols: tuple[str, str] = ("s_id", "t_id"),
    score_col: str = "score",
    channel_col: str = "data_type",
    threshold: float = config.SIMSCORE_THRESHOLD,
) -> DataFrame:
    """pw_aligner.py:290-326 — per pair take max score within the 'name' and
    'def' channels, fuse 0.75*name + 0.25*def, keep >= threshold."""
    agg = scored.groupBy(*pair_cols).agg(
        F.max(F.when(F.col(channel_col) == "name", F.col(score_col))).alias("name_s"),
        F.max(F.when(F.col(channel_col) == "def", F.col(score_col))).alias("def_s"),
    )
    return (
        agg.select(
            *pair_cols,
            (
                config.NAME_WEIGHT * F.coalesce(F.col("name_s"), F.lit(0.0))
                + config.DEF_WEIGHT * F.coalesce(F.col("def_s"), F.lit(0.0))
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _fuzzy_grams(c, q: int):
    """Distinct q-grams of a string column; empty array below length q."""
    return F.when(
        F.length(c) >= q,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(c) - q + 1),
                lambda i: c.substr(i, F.lit(q)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    col: str,
    *,
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """Edit-distance fuzzy equi-join via q-gram prefix blocking (the
    Ed-Join family: Xiao/Wang/Lin, VLDB'08).

    Joins ``left`` and ``right`` on levenshtein(left.col, right.col) <=
    max_dist without the quadratic cross join. Blocking is LOSSLESS by
    the q-gram count bound: one edit destroys at most q of a string's
    distinct q-grams, so ed(s, t) <= d implies t's gram set contains at
    least n_s - q*d of s's n_s grams — and under ANY shared total order
    of the gram vocabulary, the two prefixes of length q*d + 1 must then
    intersect whenever max(n_s, n_t) > q*d. We order grams by (global
    frequency asc, gram asc), so prefixes hold each string's RAREST
    grams and hot grams never become join keys (the same
    skew-resistance-by-construction as setsim_join_exact's AllPairs
    prefix). q66's oracle is a brute-force join with no blocking, so the
    gate proves no pair is dropped.

    Pairs where BOTH sides have <= q*d distinct grams (short or
    low-diversity strings — every gram could be destroyed) fall outside
    the bound; they are covered by a length-band fallback join
    (|len(l) - len(r)| <= d, the lossless levenshtein length bound)
    restricted to those strings only, so the quadratic band blowup is
    capped at the short-string vocabulary, never the full one.

    Candidate generation runs on the DISTINCT string values of each side
    (duplicates join back by value at the end), the exact levenshtein
    runs only on deduplicated candidates, and a length pre-filter runs
    before it. Returns left columns + right columns + `dist`. Both
    inputs keep their other columns; callers alias beforehand on name
    collisions.
    """
    d = max_dist
    pref_len = q * d + 1
    rcol = f"_r_{col}"
    rb = right.withColumnRenamed(col, rcol)

    lv = left.select(F.col(col).alias("_s")).distinct().withColumn(
        "_g", _fuzzy_grams(F.col("_s"), q)
    )
    rv = rb.select(F.col(rcol).alias("_s")).distinct().withColumn(
        "_g", _fuzzy_grams(F.col("_s"), q)
    )

    # shared total order: global gram frequency over BOTH vocabularies
    # (ties by gram). The gram alphabet is tiny -> broadcast.
    freq = (
        lv.select(F.explode("_g").alias("gram"))
        .unionByName(rv.select(F.explode("_g").alias("gram")))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def _prefix(v: DataFrame, out: str) -> DataFrame:
        ranked = v.select(
            F.col("_s").alias(out), F.explode("_g").alias("gram")
        ).join(F.broadcast(freq), "gram")
        w = Window.partitionBy(out).orderBy(F.asc("cnt"), F.asc("gram"))
        return (
            ranked.withColumn("_pos", F.row_number().over(w))
            .filter(F.col("_pos") <= pref_len)
            .select(out, "gram")
        )

    cand_gram = (
        _prefix(lv, "_sl")
        .join(_prefix(rv, "_sr"), "gram")
        .select("_sl", "_sr")
    )

    # both-short fallback: every gram of these strings can be destroyed
    # by d edits, so gram prefixes prove nothing — band them by length
    shortl = lv.filter(F.size("_g") <= q * d).select(
        F.col("_s").alias("_sl"),
        F.explode(
            F.sequence(
                F.length("_s") - F.lit(d), F.length("_s") + F.lit(d)
            )
        ).alias("_band"),
    )
    shortr = rv.filter(F.size("_g") <= q * d).select(
        F.col("_s").alias("_sr"), F.length("_s").alias("_band")
    )
    cand_short = shortl.join(shortr, "_band").select("_sl", "_sr")

    cands = (
        cand_gram.unionByName(cand_short)
        .distinct()
        .filter(
            F.abs(F.length("_sl") - F.length("_sr")) <= F.lit(d)
        )
        .withColumn("dist", F.levenshtein(F.col("_sl"), F.col("_sr")))
        .filter(F.col("dist") <= d)
    )

    # USING-style name joins: attribute references (left[col] ==
    # cands["_sl"]) across the shared self-join lineage trip Spark's
    # ambiguous-self-join analysis; common-column joins do not
    return (
        left.withColumn("_sl", F.col(col))
        .join(cands, "_sl")
        .join(rb.withColumn("_sr", F.col(rcol)), "_sr")
        .drop("_sl", "_sr")
    )


def fuzzy_vocab_pairs(
    docs: DataFrame,
    tokens_col,
    *,
    max_dist: int = 2,
    min_len: int = 3,
) -> DataFrame:
    """Near-spelling token pairs in the corpus vocabulary: the typo/variant
    candidates a normalization pass would merge. Distinct tokens of at
    least ``min_len`` characters are fuzzy-self-joined (q-gram prefix
    blocking via ``fuzzy_join``), keeping pairs a < b with levenshtein
    <= max_dist. Vocabulary-sized inputs, so every stage is small relative
    to the corpus — the corpus is touched exactly once for the distinct.
    """
    vocab = (
        docs.select(F.explode(tokens_col).alias("tok"))
        .filter(F.length("tok") >= min_len)
        .distinct()
    )
    named = vocab.withColumnRenamed("tok", "a")
    out = fuzzy_join(named, named, "a", max_dist=max_dist)
    # fuzzy_join renames the right copy's column to _r_a; restore + order
    return (
        out.withColumnRenamed("_r_a", "b")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "dist")
    )


def dictionary_augment(
    phrases: DataFrame,
    dictionary: DataFrame,
    *,
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
    cls_id_col: str = "cls_id",
    cls_name_col: str = "cls_name",
    threshold: float = 0.5,
) -> DataFrame:
    """Dictionary augmentation: link crawl-mined candidate phrases (e.g.
    the anchor-text dictionary of q156) against the ontology name
    dictionary by token-set Jaccard and emit, per phrase, its best class
    — the loop that grows the linking dictionary from the web the way
    the reference grows synonym lists from curated xrefs
    (pathhier/candidate_selector.py:49-103's token-set channel, pointed
    back at the dictionary itself).

    Candidate generation is BIPARTITE prefix filtering (the AllPairs
    bound of setsim_join_exact extended to an R-S join): both sides rank
    their distinct tokens by ONE shared global order (dictionary corpus
    frequency asc, term asc; tokens unseen in the dictionary rank
    rarest) and emit only the L - ceil(t*L) + 1 rarest as join keys.
    Any pair with Jaccard >= t shares at least one prefix token under a
    common total order, so generation is lossless — pinned against
    brute force in pytest. Hot tokens are structurally excluded from
    join keys (rarest-first prefix), so no salting is needed.

    Scoring is exact-integer micro-unit Jaccard ((1e6*|I|) DIV |U|) and
    the per-phrase winner is the portable two-phase argmax (max jacc_fp,
    then min cls_id) — no float ties, no row_number over floats.

    Output: one row per input phrase — (phrase_id, phrase, cls_id,
    cls_name, jacc_fp, is_new); phrases with no class above threshold
    carry NULLs, matched phrases flag is_new = jacc_fp < 1e6 (a mined
    alias whose token SET is not already a dictionary entry's —
    reordered/duplicated surface forms of an existing entry are NOT
    flagged, by design of token-set linking)."""
    thr_fp = int(round(threshold * 1_000_000))
    p = phrases.select(
        F.col(phrase_id_col).alias("pid"),
        F.col(phrase_col).alias("phrase"),
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col(phrase_col)), WS_SPLIT_RE),
                lambda t: t != "",
            )
        ).alias("pts"),
    )
    d = dictionary.select(
        F.col(cls_id_col).alias("cls"),
        F.col(cls_name_col).alias("cls_name"),
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col(cls_name_col)), WS_SPLIT_RE),
                lambda t: t != "",
            )
        ).alias("cts"),
    )
    freq = (
        d.select(F.explode("cts").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def _prefix(side: DataFrame, id_name: str, set_col: str) -> DataFrame:
        ranked = side.select(
            F.col(id_name),
            F.size(set_col).cast("long").alias("setlen"),
            F.explode(set_col).alias("term"),
        ).join(F.broadcast(freq), "term", "left")
        # exact RATIONAL ceiling in integer arithmetic: float
        # ceil(t*L) overestimates when t*L rounds up in IEEE (e.g.
        # 0.07*100 = 7.000000000000001 -> ceil 8), which would shorten
        # the prefix and break losslessness at exactly-at-threshold
        # pairs
        pref_len = (
            F.col("setlen")
            - F.expr(
                f"({thr_fp} * setlen + 999999) DIV 1000000"
            ).cast("long")
            + F.lit(1)
        )
        w = Window.partitionBy(id_name).orderBy(
            F.asc_nulls_first("cnt"), F.asc("term")
        )
        return (
            ranked.withColumn("pos", F.row_number().over(w))
            .filter(F.col("pos") <= pref_len)
            .select(id_name, "term")
        )

    cands = (
        _prefix(p, "pid", "pts")
        .join(_prefix(d, "cls", "cts"), "term")
        .select("pid", "cls")
        .distinct()
    )
    verified = (
        cands.join(p.select("pid", "pts"), "pid")
        .join(d, "cls")
        .withColumn(
            "inter", F.size(F.array_intersect("pts", "cts")).cast("long")
        )
        .withColumn(
            "uni",
            F.size("pts").cast("long") + F.size("cts") - F.col("inter"),
        )
        .withColumn("jacc_fp", F.expr("(1000000 * inter) DIV uni"))
        .filter(F.col("jacc_fp") >= F.lit(thr_fp))
    )
    best = (
        verified.groupBy("pid")
        .agg(F.max("jacc_fp").alias("best_fp"))
        .join(verified, "pid")
        .filter(F.col("jacc_fp") == F.col("best_fp"))
        .groupBy("pid", "jacc_fp")
        .agg(F.min("cls").alias("cls"))
        .join(d.select("cls", "cls_name"), "cls")
    )
    return p.select("pid", "phrase").join(best, "pid", "left").select(
        F.col("pid").alias("phrase_id"),
        "phrase",
        F.col("cls").alias("cls_id"),
        "cls_name",
        "jacc_fp",
        F.when(
            F.col("jacc_fp").isNotNull(), F.col("jacc_fp") < 1_000_000
        ).alias("is_new"),
    )
