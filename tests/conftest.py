import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pathhier_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    # local[4]: the cores set the default parallelism, i.e. the partitions
    # of every createDataFrame/parallelize input and so the tasks of each
    # scan and Python-UDF stage. The suite's inputs are tiny and its time
    # is per-task overhead: local[8] ran the same tests ~1.5x slower on a
    # 4-core host, and spark.default.parallelism=8 on local[4] as slowly.
    spark = get_spark("pathhier_spark_tests", cores=4, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """spark_jobs(fn, group) -> (fn's result, Spark jobs it ran), the jobs
    counted in their own job group."""
    import time

    sc = spark.sparkContext

    def count(fn, group: str):
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store asynchronously
        deadline = time.monotonic() + 10
        while not sc.statusTracker().getJobIdsForGroup(group):
            assert time.monotonic() < deadline, "no job recorded for the group"
            time.sleep(0.05)
        time.sleep(0.5)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def tie_heavy_ontology():
    """A seeded random 60-class ontology (parents, children, aliases,
    definitions) over a 17-word vocabulary, and 152 mentions: shared
    tokens, candidate-score ties and channel-score ties are common."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(14)] + ["the", "of", "pathway"]

    def phrase(lo=1, hi=3):
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))

    ids = [f"C{i:03d}" for i in range(60)]
    ontology = []
    for i, cid in enumerate(ids):
        earlier = ids[:i]
        ontology.append({
            "class_id": cid,
            "name": phrase(),
            "aliases": [phrase() for _ in range(rng.randint(1, 3))],
            "synonyms": [],
            "definition": [phrase(2, 6) for _ in range(rng.randint(0, 2))],
            "subClassOf": rng.sample(earlier, min(len(earlier), rng.randint(0, 2))),
            "part_of": rng.sample(earlier, min(len(earlier), rng.randint(0, 1))),
            "instances": [],
        })
    mentions = sorted({phrase() for _ in range(150)} | {"the of", "unseen token"})
    return ontology, mentions
