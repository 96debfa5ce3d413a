"""Connected components vs the union-find oracle (FIXTURES.md §4 cases)."""

import random
import time

from pathhier_spark.functions.oracle import UnionFind
from pathhier_spark.operators.canonicalize import (
    assign_local_ids,
    connected_components,
    xref_cooccurrence_edges,
)
from pathhier_spark.sources import corpus as corpus_mod


def _oracle_components(pairs):
    uf = UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    return uf.components()


def _check(spark, pairs):
    df = spark.createDataFrame(pairs, "xref_a string, xref_b string")
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    want = _oracle_components(pairs)
    assert got == want, f"mismatch: {dict(sorted(got.items()))[:10]}"


def test_fixture_graph(spark):
    c = corpus_mod.generate(n_classes=40, n_docs=10, seed=42)
    pairs = [(x["xref_a"], x["xref_b"]) for x in c.xref_pairs]
    _check(spark, pairs)


def test_random_graph_vs_oracle(spark):
    rng = random.Random(13)
    nodes = [f"N:{i:04d}" for i in range(300)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(250)
    ]  # sparse -> many components, some large
    _check(spark, pairs)


def test_long_chain(spark):
    # worst-case diameter: star algorithm must converge in O(log n) rounds
    pairs = [(f"X:{i:05d}", f"X:{i + 1:05d}") for i in range(200)]
    _check(spark, pairs)


def test_cooccurrence_edges_degree_guard(spark):
    rows = [
        ("e1", ["a", "b", "c"]),
        ("e2", ["c", "d"]),
        ("e3", []),  # no xrefs -> skipped
        ("e4", [f"hub{i}" for i in range(12)]),  # >10 xrefs -> skipped
        ("e5", ["z"]),  # singleton -> self-loop survives
    ]
    df = spark.createDataFrame(rows, "uid string, xrefs array<string>")
    edges = xref_cooccurrence_edges(df)
    got = {(r["xref_a"], r["xref_b"]) for r in edges.collect()}
    assert ("a", "b") in got and ("c", "d") in got and ("z", "z") in got
    assert not any(x.startswith("hub") for pair in got for x in pair)
    comps = connected_components(edges)
    labels = {r["node"]: r["component"] for r in comps.collect()}
    # a,b,c,d all one component; z alone
    assert len({labels[x] for x in "abcd"}) == 1
    assert labels["z"] == "z"
    with_ids = assign_local_ids(comps)
    ids = {r["node"]: r["local_id"] for r in with_ids.collect()}
    assert ids["a"] == ids["d"] != ids["z"]


def test_component_size_histogram_shape(spark):
    """q116 composition: CC labels -> size histogram. Two triangles and
    one isolated pair -> histogram {2: 1, 3: 2}."""
    from pyspark.sql import functions as F
    from pathhier_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("p", "q"), ("q", "r"), ("r", "p"),
         ("x", "y")],
        "xref_a string, xref_b string",
    )
    hist = {
        r["component_size"]: r["n_components"]
        for r in connected_components(edges)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").alias("component_size"))
        .agg(F.count(F.lit(1)).alias("n_components"))
        .collect()
    }
    assert hist == {2: 1, 3: 2}


def test_cc_incremental_matches_scratch_and_spares_untouched(spark):
    """cc_incremental (q185): merging two components via a delta edge
    relabels exactly the touched components to the global min; labels
    of untouched components pass through; brand-new nodes register;
    the result equals a from-scratch recompute; empty delta is a
    passthrough."""
    from pathhier_spark.operators.canonicalize import (
        cc_incremental,
        connected_components,
    )

    def edges(pairs):
        return spark.createDataFrame(pairs, "xref_a string, xref_b string")

    # history: {a,b}, {c,d}, {x,y} (+ self-loop singleton s)
    old = edges(
        [("a", "b"), ("c", "d"), ("x", "y"), ("s", "s")]
    )
    hist = connected_components(old)
    # delta: join {a,b} with {c,d}; attach brand-new node z to x
    new = edges([("b", "c"), ("z", "x")])
    got = {
        r["node"]: r["component"]
        for r in cc_incremental(hist, new).collect()
    }
    scratch = {
        r["node"]: r["component"]
        for r in connected_components(old.union(new)).collect()
    }
    assert got == scratch
    assert got["d"] == "a"          # merged component takes the global min
    assert got["z"] == "x"          # new node joined the x-component
    assert got["s"] == "s"          # untouched singleton label unchanged

    # empty delta: every label passes through
    empty = edges([])
    got2 = {
        r["node"]: r["component"]
        for r in cc_incremental(hist, empty).collect()
    }
    assert got2 == {r["node"]: r["component"] for r in hist.collect()}


# ---------------------- pipeline class canonicalization ----------------------


def _distributed_canonicalize(onto):
    """canonicalize_classes' former Spark-side formulation: star-round CC
    over (class, class) + (class, synonym) pairs, then assign_local_ids."""
    from pyspark.sql import functions as F

    pairs = onto.select(
        F.col("class_id").alias("xref_a"), F.col("class_id").alias("xref_b")
    ).union(
        onto.select(
            F.col("class_id").alias("xref_a"), F.explode("synonyms").alias("xref_b")
        )
    )
    with_ids = assign_local_ids(connected_components(pairs))
    return (
        onto.select("class_id")
        .join(with_ids, F.col("class_id") == F.col("node"))
        .select("class_id", F.col("component").alias("canonical_id"), "local_id")
    )


def _synonym_graph(seed):
    """Random class -> synonyms table: synonym chains, empty and null lists,
    self-synonyms, xrefs sorting below the class ids, non-ASCII ids."""
    rng = random.Random(seed)
    classes = [f"P:{i:03d}" for i in range(80)] + ["Ü:1", "日本:2", "𝔸:3", "é:4"]
    xrefs = [f"CHAIN:{i:02d}" for i in range(50)] + ["0:low", "A:low", "ß", "Z"]
    rows = []
    for i, cid in enumerate(classes):
        kind = rng.random()
        if kind < 0.1:
            syns = None
        elif kind < 0.2:
            syns = []
        else:
            syns = rng.sample(xrefs, rng.randint(1, 3))
            if rng.random() < 0.2:
                syns.append(cid)
            if rng.random() < 0.2:
                syns.append(rng.choice(classes))
        rows.append((cid, syns))
    # a chain of classes linked only through consecutive shared xrefs
    rows += [(f"Q:{i:02d}", [f"LINK:{i:02d}", f"LINK:{i + 1:02d}"]) for i in range(12)]
    return rows


def test_canonicalize_classes_matches_distributed_cc(spark):
    from pathhier_spark.plans.pipeline import canonicalize_classes

    onto = spark.createDataFrame(
        _synonym_graph(1), "class_id string, synonyms array<string>"
    )
    got = canonicalize_classes(onto)
    want = _distributed_canonicalize(onto)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_canonicalize_classes_labels(spark):
    from pathhier_spark.plans.pipeline import canonicalize_classes

    onto = spark.createDataFrame(
        [("B", ["CHAIN:1"]), ("C", ["CHAIN:1", "D"]), ("D", None), ("E", [])],
        "class_id string, synonyms array<string>",
    )
    got = {r["class_id"]: (r["canonical_id"], r["local_id"])
           for r in canonicalize_classes(onto).collect()}
    # "B" < "C" < "CHAIN:1" < "D": the chain's label is its smallest node
    assert got == {"B": ("B", 0), "C": ("B", 0), "D": ("B", 0), "E": ("E", 1)}


def test_canonicalize_classes_ignores_null_xrefs(spark):
    """A null synonym element is no node: it must not take local_id 0 and
    shift every real id by one."""
    from pathhier_spark.plans.pipeline import canonicalize_classes

    onto = spark.createDataFrame(
        [("A", ["X"]), ("B", ["X", None]), ("C", [None])],
        "class_id string, synonyms array<string>",
    )
    got = {r["class_id"]: (r["canonical_id"], r["local_id"])
           for r in canonicalize_classes(onto).collect()}
    assert got == {"A": ("A", 0), "B": ("A", 0), "C": ("C", 1)}


def test_canonicalize_classes_job_count(spark):
    """One collect of the ontology plus the caller's materialization."""
    from pathhier_spark.plans.pipeline import canonicalize_classes

    sc = spark.sparkContext
    onto = spark.createDataFrame(
        _synonym_graph(4), "class_id string, synonyms array<string>"
    ).localCheckpoint(eager=True)
    group = "test_canonicalize_classes_job_count"
    sc.setJobGroup(group, group)
    try:
        canonicalize_classes(onto).localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store asynchronously
    deadline = time.monotonic() + 10
    while not sc.statusTracker().getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "no job recorded for the group"
        time.sleep(0.05)
    time.sleep(0.5)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_union_find_labels_long_chain():
    from pathhier_spark.operators.canonicalize import union_find_labels

    pairs = [(f"X:{i:05d}", f"X:{i + 1:05d}") for i in range(5000)][::-1]
    labels = union_find_labels(pairs)
    assert set(labels.values()) == {"X:00000"} and len(labels) == 5001
