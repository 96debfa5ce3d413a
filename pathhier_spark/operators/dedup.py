"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's uid-dedup (pathhier/pathway.py:741-747 — first
occurrence wins), this module provides the dedup family a 100 TB text corpus
needs: exact hashing, MinHash+LSH, SimHash, n-gram Jaccard verification, and
embedding-cosine near-dup. All are declarative DataFrame chains.

Scale notes:
  * exact_dedup is a single hash-groupBy — map-side partial agg, one shuffle
    keyed by a uniform hash (no skew by construction).
  * minhash_signatures uses md5-based per-band minima — built-in functions
    only, whole-stage codegen; signatures are ~bands×8 bytes per doc.
  * lsh_candidate_pairs buckets by (band, band-hash); within-bucket pair
    enumeration is a self-join on the bucket key. Hot buckets (boilerplate
    shingles) are capped with `max_bucket_size` — the standard guard against
    quadratic blowup; dropped buckets are exactly the near-global-duplicate
    clusters you handle separately (same spirit as the reference's >10-xref
    skip, cluster_model.py:273-277).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pathhier_spark.functions.text import WS_SPLIT_RE, jaccard


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the first (minimum-id) row per identical text; output adds
    (content_hash, dup_count). First-occurrence-wins mirrors
    pathway.py:741-747.

    Scale shape: NOT a Window.partitionBy(content_hash) — a window has no
    map-side combine, so one massively-duplicated text (hot boilerplate page
    at corpus scale) funnels every full row through a single task. The
    winner id per hash is a combiner-friendly min/count aggregate over TWO
    narrow columns (Catalyst prunes everything else into the scan — a
    full-row min(struct) would drag text and binary payloads through the
    shuffle and refuse unorderable column types), joined back NULL-safely on
    the composite (content_hash, id) key — near-unique, so a hot hash's rows
    spread across partitions and AQE can split residual skew. The final
    dropDuplicates(content_hash) collapses physically duplicated winner rows
    (same (id, text) ingested twice) so the output is EXACTLY one row per
    hash; its partial aggregation collapses copies map-side, and it sees
    only winner rows. When several DISTINCT rows tie on (hash, min id) the
    kept one among them is arbitrary — the reference's dict-insertion
    semantics are equally order-dependent there."""
    cols = df.columns
    hashed = df.withColumn("content_hash", F.md5(F.col(text_col)))
    winners = (
        hashed.groupBy("content_hash")
        .agg(
            F.min(F.col(id_col)).alias("_win_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .withColumnRenamed("content_hash", "_win_hash")
    )
    joined = hashed.join(
        winners,
        (F.col("content_hash") == F.col("_win_hash"))
        # eqNullSafe: a hash group whose ids are ALL NULL still emits its
        # (NULL-id) winner instead of vanishing from the output
        & F.col(id_col).eqNullSafe(F.col("_win_id")),
    )
    return joined.select(
        *cols, "content_hash", "dup_count"
    ).dropDuplicates(["content_hash"])


def shingles(text_col: str, k: int = 3) -> F.Column:
    """k-token shingles of lowercased whitespace-tokenized text."""
    toks = F.split(F.lower(F.col(text_col)), WS_SPLIT_RE)
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash via per-seed minima of md5(seed:shingle). md5 keeps the
    signature engine-portable (DuckDB computes the identical value for the
    oracle check). Output: (id, sig ARRAY<STRING> length num_hashes)."""
    sh = df.select(F.col(id_col), F.explode(shingles(text_col, shingle_k)).alias("sh"))
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int = 50,
) -> DataFrame:
    """Band the signature; docs sharing any band-hash become a candidate
    pair (id_a < id_b). Buckets larger than max_bucket_size are dropped
    (boilerplate guard)."""
    sig_len = bands * rows_per_band
    banded = signatures.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws("|", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # lazy checkpoint: `banded` feeds THREE consumers (sizes + both join
    # sides) whose differing pruned columns defeat ReusedExchange, so the
    # whole upstream signature build (shingle explode + per-seed md5
    # minima) would otherwise execute three times in one plan (the
    # dbscan_2d lazy-materialization pattern)
    banded = banded.localCheckpoint(eager=False)
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bsz"))
    small = banded.join(
        sizes.filter(F.col("bsz") <= max_bucket_size), ["band", "bucket"]
    )
    a = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    b = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard; keep pairs with
    jaccard >= threshold. Output: (id_a, id_b, jacc).

    The shingle sets are pinned in executor storage by a localCheckpoint
    that is never unpersisted: their blocks are freed only when the driver
    garbage-collects the dead checkpoint. get_spark sets a 30 s
    spark.cleaner.periodicGC.interval for this; a session built elsewhere
    keeps Spark's 30 min default and can pile up dead shingle blocks across
    calls in a long-lived driver."""
    # lazy checkpoint: both join sides read the same shingle-set frame —
    # without materialization the full tokenize+shingle pass over the
    # corpus executes once per side
    sh = df.select(
        F.col(id_col), shingles(text_col, shingle_k).alias("sh")
    ).localCheckpoint(eager=False)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 8,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup chain: minhash -> LSH buckets -> exact-jaccard verify.
    Returns verified near-duplicate pairs (id_a, id_b, jacc)."""
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col,
        num_hashes=bands * rows_per_band, shingle_k=shingle_k,
    )
    cands = lsh_candidate_pairs(
        sigs, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    return ngram_jaccard_pairs(
        df, cands, id_col=id_col, text_col=text_col,
        shingle_k=shingle_k, threshold=threshold,
    )


def simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint over tokens: per bit, sum +1/-1 votes weighted by
    token frequency; bit = 1 iff the vote is positive. Token bit source: the
    first 8 hex chars of md5 read as a 32-bit int — portable, deterministic,
    and computable by DuckDB for the oracle check (crc32 is not).
    Output: (id, simhash BIGINT)."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), WS_SPLIT_RE)).alias("tok")
    ).filter(F.col("tok") != "")
    counted = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("w"))
    hashed = counted.withColumn(
        "th", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.col("w"))
                .otherwise(-F.col("w"))
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sh = F.lit(0).cast("long")
    for i in range(bits):
        sh = sh + F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), sh.alias("simhash"))


def embedding_neardup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine >= threshold.
    Brute-force form (for verification scale); production path buckets via
    similarity.lsh_bucket_topk. Output: (id_a, id_b, cos)."""
    from pathhier_spark.operators.similarity import cosine_from_norms, norm_expr

    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_expr(F.col(vec_col)).alias("_na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_neardup_bucketed(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    n_bands: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup, NON-QUADRATIC form — the production path
    for the operator a user reaches for by name (the brute
    embedding_neardup_pairs above crossJoins all pairs and stays as the
    verification oracle). Banded sign-random-projection LSH
    (similarity.md5_hyperplanes — deterministic integer planes, so the
    bucketing is reproducible anywhere): two vectors become a candidate
    pair iff they share a bucket in ANY band; exact double cosine then
    filters candidates, so precision is exactly 1.0 vs the brute form and
    only recall depends on the banding. At the gate setting (8 planes x
    16 bands, queries._BND_*) and threshold 0.95 the per-pair candidate
    probability is 1-(1-p^8)^16 with p = 1 - theta/pi >= 0.899, i.e.
    >= 0.99986 at the threshold boundary and higher above it — measured
    recall 1.0 on the test corpora (tests/test_dedup.py asserts
    set-equality vs brute). Plane count is the bucket-density lever:
    2^n_planes buckets per band must outgrow per-band corpus density or
    buckets go all-pairs (4 planes measured 815k candidate pairs from
    2000 vectors at sf0.1; 8 planes: ~115k).

    Shuffle shape: one banded-bucket table (n_rows x n_bands narrow rows)
    self-joined on (band, bucket) — uniform keys by construction of the
    random projections — then the deduped id-pairs join back for the
    exact cosine. Work is sum of per-bucket pair counts, not n^2; at 100x
    the corpus the bucket key space grows with 2^n_planes x n_bands and
    stays balanced, vs the crossJoin's quadratic blowup. Output:
    (id_a, id_b, cos), identical schema/semantics to the brute form."""
    from pathhier_spark.operators.similarity import (
        _banded_buckets,
        cosine_from_norms,
        md5_hyperplanes,
        norm_expr,
    )

    if dim is None:
        row = emb.select(vec_col).first()
        if row is None:  # empty input: brute form is free and schema-identical
            return embedding_neardup_pairs(
                emb, id_col=id_col, vec_col=vec_col, threshold=threshold
            )
        dim = len(row[0])
    planes_per_band = [md5_hyperplanes(dim, n_planes, b) for b in range(n_bands)]
    e = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # lazy checkpoint: the bucket table feeds BOTH sides of the candidate
    # self-join, and without it the quantize+project+bucket-fold subtree
    # executes twice (measured 8.4s -> 3.0s at sf0.1; the q92/hits shared-
    # subtree discipline)
    bb = _banded_buckets(e, "_id", "_v", planes_per_band).localCheckpoint(
        eager=False
    )
    cands = (
        bb.withColumnRenamed("_id", "id_a")
        .join(
            bb.withColumnRenamed("_id", "id_b"), ["band", "bucket"]
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        norm_expr(F.col("_v")).alias("_na"),
    )
    vb = e.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        norm_expr(F.col("_v")).alias("_nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def segment_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
) -> DataFrame:
    """C4-style cross-document segment dedup: split every document into
    non-overlapping `seg_tokens`-token segments; an identical segment keeps
    only its FIRST corpus-wide occurrence (ordered by doc id, then position
    — the distributed analog of C4's keep-first line dedup); each document
    is reassembled from its surviving segments in order.

    Scale shape: the first-occurrence winner per segment is a
    map-side-combinable min-aggregation (NOT a window — a window partitioned
    by segment would funnel every copy of a hot boilerplate segment through
    one task with no combiner); the winner table then equi-joins back, which
    AQE's skew-join can split on the probe side. One more shuffle by doc id
    reassembles. Output: (id, text_dedup, n_kept, n_dropped)."""
    toks = F.split(F.lower(F.col(text_col)), WS_SPLIT_RE)
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * seg_tokens + 1, seg_tokens)),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(segs).alias("pos", "seg")
    )
    firsts = exploded.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first")
    )
    flagged = exploded.join(firsts, "seg").withColumn(
        "is_first",
        (F.col(id_col) == F.col(f"first.{id_col}"))
        & (F.col("pos") == F.col("first.pos")),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_first"),
                                   F.struct(F.col("pos"), F.col("seg")))
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("text_dedup"),
            F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~F.col("is_first"), 1).otherwise(0)).alias("n_dropped"),
        )
    )


def line_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-document LINE dedup — the companion of segment_dedup
    that completes the C4 recipe (the reference recipe drops exact duplicate
    lines corpus-wide in addition to token-window segments): every line
    (newline-delimited, byte-exact — no lowercasing, C4 compares lines
    verbatim) keeps only its FIRST corpus-wide occurrence ordered by
    (doc id, line position); each document is reassembled from its
    surviving lines in order.

    Scale shape (same as segment_dedup): the first-occurrence winner per
    line is a map-side-combinable min-aggregation — NOT a window, which
    would funnel every copy of a hot boilerplate line ("subscribe to our
    newsletter") through one task with no combiner; the winner table
    equi-joins back (AQE skew-join splits the probe side on hot lines),
    then one doc-id shuffle reassembles. Output: (id, text_dedup, n_kept,
    n_dropped)."""
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    )
    firsts = exploded.groupBy("line").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first")
    )
    flagged = exploded.join(firsts, "line").withColumn(
        "is_first",
        (F.col(id_col) == F.col(f"first.{id_col}"))
        & (F.col("pos") == F.col("first.pos")),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_first"),
                                   F.struct(F.col("pos"), F.col("line")))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text_dedup"),
            F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~F.col("is_first"), 1).otherwise(0)).alias("n_dropped"),
        )
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
) -> DataFrame:
    """Cross-document duplicated-span statistics, the relational core of
    ExactSubstr-style dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): an n-gram is DUPLICATED when it occurs
    in >= 2 distinct documents; per document we report how many gram
    starts are duplicated (`n_dup_starts`) and how many token positions
    those spans cover after interval union (`n_dup_tokens`), alongside
    `n_toks`. High coverage = the document is mostly copied from elsewhere
    in the corpus — the signal ExactSubstr acts on, without the suffix
    array: at a fixed minimum match length L, "shares a substring of >= L
    tokens" is exactly "shares an L-gram", so the gram equi-join replaces
    the suffix-array scan and the plan is all joins/aggregates.

    Scale shape: gram frequency is one combiner-friendly groupBy (the
    count-distinct over doc ids partial-aggregates); the dup-gram set
    joins back on the gram key, so hot boilerplate grams fan out only to
    their actual occurrences; span coverage is a distinct over
    (doc, position) — uniformly keyed, bounded by total covered tokens,
    never quadratic. Docs with no duplicated grams (or shorter than n
    tokens) come back with zero counts via the NULL-safe join-back.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), WS_SPLIT_RE), lambda t: t != ""
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("ts"))
    starts = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - n + 1),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.concat_ws(
                            " ", F.slice(F.col("ts"), i, n)
                        ).alias("gram"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<start:int,gram:string>>")
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))
    dup_grams = (
        starts.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup = starts.join(dup_grams, "gram")
    per_doc = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_starts")
    )
    covered = (
        dup.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_tokens"))
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).cast("long").alias("n_toks"),
        )
        .join(per_doc, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .fillna(0, subset=["n_dup_starts", "n_dup_tokens"])
    )


def minhash_cross_join(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int = 50,
    threshold: float = 0.5,
) -> DataFrame:
    """TWO-SIDED MinHash LSH join: near-duplicate pairs ACROSS two
    corpora — the dedup-matrix cell the self-join forms (q11/q31) and
    the broadcast decontaminator (q54) both miss: train-vs-holdout
    near-dup screening where BOTH sides are too large to broadcast and
    similarity is fuzzy, not exact-n-gram. Each side computes its own
    signatures (the q10 md5 machinery, engine-portable); band buckets
    become the join key, so the shuffle is (band, bucket)-partitioned on
    both sides — co-located by construction, no corpus ever crosses the
    wire whole. The bucket-size cap applies to the COMBINED bucket
    population (left + right): a boilerplate bucket hot on either side
    would otherwise explode the pairwise product l_count * r_count.
    Survivors verify with exact shingle Jaccard (only candidates pay),
    thresholded. Output: (id_l, id_r, jaccard round-6)."""
    sig_l = minhash_signatures(
        left, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_k=shingle_k,
    )
    sig_r = minhash_signatures(
        right, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_k=shingle_k,
    )

    def _banded(signatures, out_id):
        return signatures.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.slice(
                                    F.col("sig"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                            )
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        ).select(out_id, "bb.band", "bb.bucket")
    bl = _banded(sig_l, "id_l")
    br = _banded(sig_r, "id_r")
    sizes = (
        bl.select("band", "bucket")
        .unionAll(br.select("band", "bucket"))
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= max_bucket_size)
        .select("band", "bucket")
    )
    cand = (
        bl.join(sizes, ["band", "bucket"])
        .join(br.join(sizes, ["band", "bucket"]), ["band", "bucket"])
        .select("id_l", "id_r")
        .distinct()
    )
    sh_l = left.select(
        F.col(id_col).alias("id_l"),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sh_l"),
    )
    sh_r = right.select(
        F.col(id_col).alias("id_r"),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sh_r"),
    )
    verified = (
        cand.join(sh_l, "id_l")
        .join(sh_r, "id_r")
        .select(
            "id_l",
            "id_r",
            (
                F.size(F.array_intersect("sh_l", "sh_r"))
                / F.size(F.array_union("sh_l", "sh_r"))
            ).alias("j"),
        )
        .filter(F.col("j") >= threshold)
    )
    return verified.select(
        "id_l", "id_r", (F.round(F.col("j"), 6) + F.lit(0.0)).alias("jaccard")
    )


def blocking_quality(
    docs: DataFrame,
    gold_pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_bucket: int = 8,
    max_block_size: int = 100,
) -> DataFrame:
    """Entity-resolution blocking evaluation (Christen 2012's two numbers):
    pair completeness (PC = gold pairs the blocking scheme still covers) and
    reduction ratio (RR = fraction of the n·(n−1)/2 all-pairs space the
    scheme prunes away) for a cheap prefix+length blocking key, judged
    against a gold match-pair set (id_a < id_b).

    The scheme under evaluation is the classic standard-blocking key
    (floor(token_count / len_bucket), first token): one key per doc, so
    candidate pairs need no distinct; blocks larger than max_block_size are
    dropped, the same boilerplate guard as lsh_candidate_pairs.

    Scale shape: one map-side key derivation, one block-size combiner
    groupBy, one within-block self-join bounded by max_block_size², and four
    scalar aggregates crossJoined at the end (all 1-row). PC/RR are each ONE
    fixed shape of double products of exact int64 counts, round-6; PC is
    NULL when the gold set is empty. Output: single row (n_docs, n_gold,
    n_cand, n_hit, pair_completeness, reduction_ratio)."""
    toks = F.split(F.lower(F.col(text_col)), WS_SPLIT_RE)
    keyed = docs.select(
        F.col(id_col).alias("id"),
        F.concat_ws(
            "|",
            F.floor(F.size(toks) / F.lit(len_bucket)).cast("long").cast("string"),
            F.element_at(toks, 1),
        ).alias("bkey"),
    )
    sizes = keyed.groupBy("bkey").agg(F.count(F.lit(1)).alias("bsz"))
    small = keyed.join(
        sizes.filter(F.col("bsz") <= max_block_size).select("bkey"), "bkey"
    )
    cand = (
        small.select("bkey", F.col("id").alias("id_a"))
        .join(small.select("bkey", F.col("id").alias("id_b")), "bkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    gold = gold_pairs.select("id_a", "id_b").distinct()
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_gold = gold.agg(F.count(F.lit(1)).alias("n_gold"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = cand.join(gold, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    m = n_docs.crossJoin(n_gold).crossJoin(n_cand).crossJoin(n_hit)
    total = F.expr("n_docs * (n_docs - 1) DIV 2")  # exact: n(n-1) is even
    pc = F.when(
        F.col("n_gold") > 0,
        F.round(F.col("n_hit").cast("double") / F.col("n_gold").cast("double"), 6),
    )
    rr = F.round(
        F.lit(1.0) - F.col("n_cand").cast("double") / total.cast("double"), 6
    )
    return m.select(
        "n_docs",
        "n_gold",
        "n_cand",
        "n_hit",
        (pc + F.lit(0.0)).alias("pair_completeness"),
        (rr + F.lit(0.0)).alias("reduction_ratio"),
    )


def template_concentration(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source templated-page concentration: cluster each source's
    documents by SimHash shape and report how concentrated the source is
    on its single most common shape — the boilerplate-site / mirror-farm
    detector that decides whether a host needs per-page dedup at all
    (a source with template_share ~1.0 is one template with rotated
    fillers; reference analog: pathhier prunes whole databases before
    per-entity alignment, pathway.py's per-source loaders).

    Scale shape: simhash is map-only + one (id, tok) combiner groupBy;
    the shape clustering is one (source, simhash) combiner count, then a
    source-cardinality combiner agg — nothing corpus-sized shuffles
    beyond the simhash join-back on the id key, and the output is
    source-sized (broadcastable back as a keep/drop verdict, like
    urls.domain_stats). The concentration is integer micro-units
    ((1e6 * top) DIV n) so both engines agree bit-for-bit. Output:
    (source, n_docs, n_shapes, top_shape_docs, template_fp,
    template_share round-6)."""
    sh = simhash(df, id_col=id_col, text_col=text_col)
    j = sh.join(df.select(id_col, group_col), id_col)
    shapes = j.groupBy(group_col, "simhash").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per = shapes.groupBy(group_col).agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_shapes"),
        F.max("cnt").alias("top_shape_docs"),
    )
    return per.select(
        group_col,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_shapes").cast("long").alias("n_shapes"),
        F.col("top_shape_docs").cast("long").alias("top_shape_docs"),
        F.expr("(1000000 * top_shape_docs) DIV n_docs")
        .cast("long")
        .alias("template_fp"),
        (
            F.round(
                F.expr("(1000000 * top_shape_docs) DIV n_docs").cast("double")
                / F.lit(1000000.0),
                6,
            )
            + F.lit(0.0)
        ).alias("template_share"),
    )


def minhash_calibration(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = 50,
    scale: int = 1_000_000,
) -> DataFrame:
    """MinHash sketch calibration: for every LSH candidate pair, compare
    the signature-agreement Jaccard ESTIMATE (matching positions / K)
    against the EXACT shingle Jaccard, bucketed by estimate decile — the
    measured answer to "how far off is a K-permutation sketch on THIS
    corpus", which prices the q11 pipeline's verify stage (a
    well-calibrated sketch lets you raise the LSH threshold and verify
    fewer pairs). Complements q135 (which scores the blocking recall;
    this scores the sketch's value accuracy).

    All-integer discipline: estimate = (1e6·agree) DIV K, exact =
    (1e6·|∩|) DIV |∪| (shingle sets are never empty — short docs shingle
    to one token-join), per-bucket means are integer-sum DIV count. No
    float ever aggregates. Scale shape: the pair set is the
    bucket-capped LSH candidate set (never all pairs); signatures and
    shingle sets join back on the two id keys; the bucket rollup is one
    combiner groupBy over an 11-row domain. Output: (bucket, n_pairs,
    mean_est_fp, mean_jacc_fp, mean_abs_err_fp)."""
    sigs = minhash_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
    ).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(
        sigs,
        id_col=id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    sh = df.select(F.col(id_col), shingles(text_col, shingle_k).alias("shset"))
    j = (
        cands.join(
            sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shset").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shset").alias("sh_b")),
            "id_b",
        )
    )
    per = j.select(
        F.expr(
            f"({int(scale)} * size(filter(zip_with(sig_a, sig_b,"
            f" (x, y) -> x = y), b -> b))) DIV {int(num_hashes)}"
        )
        .cast("long")
        .alias("est_fp"),
        F.expr(
            f"({int(scale)} * size(array_intersect(sh_a, sh_b)))"
            f" DIV size(array_union(sh_a, sh_b))"
        )
        .cast("long")
        .alias("j_fp"),
    )
    bucket_w = int(scale) // 10
    return (
        per.groupBy(
            F.expr(f"est_fp DIV {bucket_w}").cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(est_fp) DIV count(1)").cast("long").alias("mean_est_fp"),
            F.expr("sum(j_fp) DIV count(1)").cast("long").alias("mean_jacc_fp"),
            F.expr("sum(abs(est_fp - j_fp)) DIV count(1)")
            .cast("long")
            .alias("mean_abs_err_fp"),
        )
        .orderBy("bucket")
    )


def cdc_chunk_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    gear_mod: int = 8,
    min_occurrences: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Content-defined chunking dedup — the rsync/FastCDC idea at token
    granularity: chunk boundaries fall where a content HASH says so
    (md5(token) first hex digit in {0,8} ≈ 1/gear_mod of tokens), not
    at fixed offsets, so inserting one sentence shifts ONE chunk while
    q34's fixed n-token segments all slide and stop matching. The
    boundary-insensitive property is exactly why CDC is the modern
    storage/dedup primitive, and why this catches shared boilerplate
    that fixed segmentation fragments.

    Determinism: the boundary predicate is a pure md5 expression (both
    engines agree byte-for-byte); chunk ids are a cumulative boundary
    sum over ONE per-doc window; chunk text reassembles in POSITION
    order (array_sort + concat — the q41 reassembly discipline) and is
    keyed by md5. The dedup aggregate is combiner-friendly; the top-k
    cut orders (n_occurrences DESC, chunk_md5), a total order.

    Scale shape: one posexplode, one per-doc window, one groupBy per
    chunk, one groupBy per chunk-hash — no content ever joins on
    itself, the same no-content-key-shuffle property as q34/q41.
    Output: (chunk_md5, n_tokens, n_occurrences, n_docs)."""
    from pathhier_spark.operators.textstats import _tokens

    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("d"),
        F.posexplode(_tokens(text_col)).alias("pos", "tok"),
    )
    bchars = ["0", "8"] if gear_mod == 8 else None
    if bchars is None:
        raise ValueError("gear_mod: only 8 supported (1/8 boundary rate)")
    is_boundary = F.substring(F.md5(F.col("tok")), 1, 1).isin(bchars)
    w = (
        Window.partitionBy("d")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chunks = (
        toks.select(
            "d",
            "pos",
            "tok",
            F.sum(F.when(is_boundary, 1).otherwise(0)).over(w).alias("cid"),
        )
        .groupBy("d", "cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("chunk_md5"),
        )
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.min("n_tokens").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("d").cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_occurrences)
        .orderBy(F.desc("n_occurrences"), "chunk_md5")
        .limit(top_k)
    )
