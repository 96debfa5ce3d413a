"""Bootstrap self-training loop (pathhier/pw_aligner.py:485-530, M3).

Driver-orchestrated loop of Spark jobs:
  seed labels -> [fit LR on collected (small) training set
                  -> score all candidate pairs distributed (broadcast coefs)
                  -> partition pos/neg at SIMSCORE_THRESHOLD
                  -> keep top KEEP_TOP_N_PERCENT_MATCHES/2 of each
                  -> anti-join vs already-added pairs
                  -> seeded split, append to the training table] x N

Differences from the reference, by design:
  * the LR is fit on the driver with sklearn-free closed-form-ish gradient
    descent (5 features; the training set is tiny by construction — the
    distributed part is inference, which is a broadcast dot product, see
    linking.lr_score). The reference uses sklearn LogisticRegressionCV
    (pw_aligner.py:512) — CV regularization-path selection is not semantics
    we need to reproduce bit-exact; thresholds and keep-fractions are.
  * every random choice is seeded (the reference's train_test_split is
    unseeded — SURVEY.md §7.3).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pathhier_spark import config
from pathhier_spark.operators.linking import FEATURE_COLS, OntologyIndex, lr_score


@dataclass
class LRModel:
    coef: list[float]
    intercept: float


def fit_lr(rows: list[tuple[list[float], int]], *, iters: int = 300, lr: float = 0.5) -> LRModel:
    """Batch gradient-descent logistic regression on the driver, vectorized
    with numpy (the training set is driver-sized by construction — see
    collect_training_rows). Deterministic (fixed init, fixed iteration
    count)."""
    if not rows:
        return LRModel([0.0] * len(FEATURE_COLS), 0.0)
    import numpy as np

    X = np.asarray([x for x, _ in rows], dtype=np.float64)
    y = np.asarray([float(label) for _, label in rows], dtype=np.float64)
    w = np.zeros(X.shape[1])
    b = 0.0
    n = float(len(y))
    for _ in range(iters):
        z = np.clip(X @ w + b, -35.0, 35.0)
        d = 1.0 / (1.0 + np.exp(-z)) - y
        w = w - lr * (X.T @ d) / n
        b = b - lr * float(d.sum()) / n
    return LRModel(w.tolist(), float(b))


def collect_training_rows(
    train_df: DataFrame,
    label_col: str = "label",
    max_rows: int = 10_000,
    n: int | None = None,
) -> list:
    """Collect the training table to the driver, capped: an unbounded seed
    (e.g. the link-score-extremes fallback over a web-scale link table)
    must never be collected whole. Above max_rows, a hash filter over the
    feature values thins the table ~max_rows-fold, and a limit() is the
    HARD driver-memory bound — the hash alone is not one, because
    featurized string-pair tables are duplicate-heavy (many pairs share
    e.g. the all-zeros vector) and identical vectors hash identically, so
    one popular vector could otherwise drag its entire block through the
    filter.

    Pass n when the caller already knows the row count (the bootstrap loop
    tracks it exactly) — saves one Spark action per call."""
    if n is None:
        n = train_df.count()
    if n > max_rows:
        k = n // max_rows + 1
        train_df = train_df.filter(
            F.pmod(F.xxhash64(*FEATURE_COLS, label_col), F.lit(k)) == 0
        ).limit(max_rows)
    rows = train_df.select(*FEATURE_COLS, label_col).collect()
    return [([r[c] for c in FEATURE_COLS], int(r[label_col])) for r in rows]


def split_train_dev(
    rows: list[dict], dev_frac: float, seed: int
) -> tuple[list[dict], list[dict]]:
    """Seeded stand-in for the reference's unseeded train_test_split
    (pathway_utils.py:332-361)."""
    rng = random.Random(seed)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    n_dev = int(len(shuffled) * dev_frac)
    return shuffled[n_dev:], shuffled[:n_dev]


def bootstrap_seed_labels(
    mentions: DataFrame,
    index: OntologyIndex,
    *,
    n_hard: int = 2,
    n_easy: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Reference-faithful seed labels (extract_training_data.py:179-271):

      * positives — mention surface forms that exactly equal an ontology
        alias after normalize_string (the analog of PW synonym-annotation
        pairs, _extract_positive_mappings:178-210);
      * hard negatives — for each positive mention, candidate-selector ranks
        4..2+n_hard over the alias-only postings, i.e. n_hard-1 pairs: the
        reference slices select(pw_id)[3:2+num_neg], a half-open Python
        slice that skips the top 3 AND yields one FEWER than num_neg —
        reproduced exactly; excludes positive pairs;
      * easy negatives — n_easy deterministic pseudo-random classes per
        positive mention (seeded stand-in for the reference's unseeded
        random.sample, SURVEY.md §7.3): the first n_easy classes in
        xxhash64(mention, class_id, seed) order that are neither positives
        nor candidates of ranks 1..2+n_hard.

    Positives and candidate ranks come from one probe of the compiled
    ontology (index.alias_matches); the easy-negative draw is a Spark step
    over the positive mentions and the index's ontology frame. All sets are
    bounded by the ontology side (positives <= aliases), so the seed table
    stays small no matter how large the mention corpus is. Output: (mention, class_id,
    label INT, provenance STRING)."""
    matches = index.alias_matches(mentions, 2 + n_hard)
    # reference slice [3:2+num_neg]: ranks 4..2+n_hard
    hard = F.filter(
        F.slice("ranked", 4, max(n_hard - 1, 0)),
        lambda c: ~F.array_contains("positives", c),
    )

    def pairs(classes, label: int, provenance: str):
        return F.transform(
            classes,
            lambda c: F.struct(
                c.alias("class_id"),
                F.lit(label).alias("label"),
                F.lit(provenance).alias("provenance"),
            ),
        )

    labeled = matches.select(
        "mention",
        F.explode(
            F.concat(pairs("positives", 1, "seed_pos"), pairs(hard, 0, "seed_hardneg"))
        ).alias("p"),
    ).select("mention", "p.*")
    hw = Window.partitionBy("mention").orderBy(
        F.xxhash64("mention", "class_id", F.lit(seed)), F.col("class_id")
    )
    # a constant rank filter lets Spark cut each mention's rows map-side
    # (WindowGroupLimit) before the window's shuffle
    easy = (
        matches.crossJoin(F.broadcast(index.ontology.select("class_id")))
        .filter(~F.array_contains(F.concat("positives", "ranked"), F.col("class_id")))
        .withColumn("rr", F.row_number().over(hw))
        .filter(F.col("rr") <= n_easy)
        .select(
            "mention", "class_id", F.lit(0).alias("label"),
            F.lit("seed_easyneg").alias("provenance"),
        )
    )
    return labeled.union(easy)


def bootstrap_loop(
    spark,
    featurized_candidates: DataFrame,
    seed_train: DataFrame,
    *,
    n_iterations: int = config.NUM_BOOTSTRAP_MODELS,
    keep_frac: float = config.KEEP_TOP_N_PERCENT_MATCHES,
    threshold: float = config.SIMSCORE_THRESHOLD,
    seed: int = 42,
) -> tuple[LRModel, DataFrame]:
    """Run the bootstrap loop.

    featurized_candidates: (s_id, t_id, <FEATURE_COLS>) — all candidate
    pairs with features, produced by the linking stage. Cached by caller.
    seed_train: (<FEATURE_COLS>, label) seed training rows.

    Returns the final model and the accumulated training DataFrame. The
    `added` anti-join mirrors pw_aligner.py:495,521-528; keep-top fractions
    mirror _keep_new_predictions (pw_aligner.py:328-341).

    Iteration-latency shape (BENCH r2 follow-up — bootstrap_sec was 2.4x
    the whole pipeline): exactly THREE Spark actions per iteration — the
    training collect, the single pos/neg count agg, and ONE eager
    localCheckpoint of that iteration's new rows. `added` and `train` are
    plain unions over the per-iteration checkpointed pieces (every piece is
    already materialized, so lineage stays one union deep and needs no
    checkpoint of its own), and the training row count is tracked exactly
    on the driver (each iteration adds keep_pos + keep_neg rows by
    construction), so collect_training_rows never re-counts. The final
    de-bootstrapped fit reuses iteration 0's collected rows (identical
    table, filter, and row order) instead of re-scanning the union."""
    train_seed = seed_train.select(
        *FEATURE_COLS, "label", F.lit("seed").alias("provenance")
    ).localCheckpoint()
    n_seed = train_seed.count()
    n_train = n_seed
    train = train_seed
    added = featurized_candidates.select("s_id", "t_id").limit(0)
    model = LRModel([0.0] * len(FEATURE_COLS), 0.0)
    seed_rows: list | None = None

    for it in range(n_iterations):
        rows = collect_training_rows(train, n=n_train)
        if it == 0:
            # iteration 0 collects exactly the seed table (train ==
            # train_seed, same thinning filter, same partition order) —
            # identical to what the final de-bootstrapped fit would
            # re-collect, so keep it and save that action + scan
            # (asserted equal in tests/test_bootstrap_embeddings.py)
            seed_rows = rows
        model = fit_lr(rows)
        scored = lr_score(featurized_candidates, model.coef, model.intercept)
        # one scoring pass per iteration: cache the anti-joined table, fold
        # both side-counts into a single agg action (VERDICT r1 item 8 —
        # previously two counts + a limit(1).count scanned `scored` 3x)
        fresh = scored.join(added, ["s_id", "t_id"], "left_anti").persist()
        cnt = fresh.agg(
            F.sum(F.when(F.col("p1") > threshold, 1).otherwise(0)).alias("n_pos"),
            F.sum(
                F.when((1.0 - F.col("p1")) > threshold, 1).otherwise(0)
            ).alias("n_neg"),
        ).collect()[0]
        n_pos = cnt["n_pos"] or 0
        n_neg = cnt["n_neg"] or 0
        if n_pos == 0 and n_neg == 0:
            fresh.unpersist()
            break
        keep_pos = int(keep_frac * n_pos / 2)
        keep_neg = int(keep_frac * n_neg / 2)
        # at test scale the 0.25% fraction rounds to zero — keep at least one
        # per side so the loop makes progress (documented test-scale floor)
        keep_pos = max(keep_pos, 1 if n_pos else 0)
        keep_neg = max(keep_neg, 1 if n_neg else 0)
        pos = fresh.filter(F.col("p1") > threshold)
        neg = fresh.filter((1.0 - F.col("p1")) > threshold)
        new_pos = pos.orderBy(F.col("p1").desc(), "s_id", "t_id").limit(keep_pos)
        new_neg = neg.orderBy(F.col("p1").asc(), "s_id", "t_id").limit(keep_neg)
        new_rows = new_pos.select(
            "s_id", "t_id", *FEATURE_COLS, F.lit(1).alias("label"),
            F.lit(f"lr_iter{it}").alias("provenance"),
        ).union(
            new_neg.select(
                "s_id", "t_id", *FEATURE_COLS, F.lit(0).alias("label"),
                F.lit(f"lr_iter{it}").alias("provenance"),
            )
        ).localCheckpoint()  # the iteration's ONE materialization
        # keep_* never exceed the filtered side counts, so the row count is
        # exact without another action
        n_train += keep_pos + keep_neg
        added = added.union(new_rows.select("s_id", "t_id"))
        train = train.union(new_rows.select(*FEATURE_COLS, "label", "provenance"))
        fresh.unpersist()

    # final model drops bootstrap-generated rows (pw_aligner.py:587, P8):
    # that is exactly the seed table, whose rows iteration 0 already
    # collected — reuse them instead of re-scanning the union
    if seed_rows is None:  # n_iterations == 0
        final_train = train.filter(~F.col("provenance").startswith("lr_iter"))
        seed_rows = collect_training_rows(final_train, n=n_seed)
    model = fit_lr(seed_rows)
    return model, train
