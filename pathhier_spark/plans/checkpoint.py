"""Checkpointed, resumable stage execution with lineage + metrics rows.

The reference checkpoints every stage to pickle files and skips work whose
output already exists (pathhier/pathway.py:1070-1091 KB pickles;
pathhier/pathway_aligner.py:264-278,696-704,806-821 per-pathway/per-pair
pickles with skip-if-exists guards). We generalize that discipline to
parquet stage outputs plus a lineage manifest:

  <root>/<stage>/            committed parquet output (atomic via _SUCCESS)
  <root>/_lineage.jsonl      one row per committed stage:
                             {stage, fingerprint, rows, wall_ms, ts,
                              partitions}

A stage re-runs only if (a) its output is absent, or (b) its input
fingerprint changed. That is the north rule's "resumable from checkpoint
with per-partition lineage + metrics"; at cluster scale the same layout maps
1:1 onto Iceberg table commits (swap the writer, keep the manifest)."""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession


def _hidden(name: str) -> bool:
    # the names Spark's file listing skips (_SUCCESS, _temporary, .crc, ...)
    return name.startswith(("_", "."))


def footer_row_counts(out: str, partition_by: list[str]) -> list[dict]:
    """Per-partition lineage rows of a committed parquet directory, summed
    from the data files' footers — no Spark job. Partitioned outputs get one
    row per non-empty partition directory, labelled `col=value/...` with the
    value as its directory name spells it (unescaped; the null partition
    reads `None`); unpartitioned outputs get one `*` row."""
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    for root, dirs, files in os.walk(out):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        n = sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for f in files
            if f.endswith(".parquet") and not _hidden(f)
        )
        if n:
            values = os.path.relpath(root, out).split(os.sep)[: len(partition_by)]
            label = "/".join(
                f"{c}={_partition_value(v)}" for c, v in zip(partition_by, values)
            )
            counts[label] = counts.get(label, 0) + n
    if not partition_by:
        return [{"partition": "*", "rows": counts.get("", 0)}]
    return [{"partition": k, "rows": v} for k, v in sorted(counts.items())]


def _partition_value(component: str) -> str:
    value = unquote(component.split("=", 1)[1])
    return "None" if value == "__HIVE_DEFAULT_PARTITION__" else value


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._lineage_path = os.path.join(root, "_lineage.jsonl")

    # -- lineage -------------------------------------------------------------

    def lineage(self) -> list[dict]:
        if not os.path.exists(self._lineage_path):
            return []
        with open(self._lineage_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _append_lineage(self, row: dict) -> None:
        with open(self._lineage_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def _committed(self, stage: str, fingerprint: str) -> bool:
        out = os.path.join(self.root, stage)
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            return False
        rows = [r for r in self.lineage() if r["stage"] == stage]
        return bool(rows) and rows[-1]["fingerprint"] == fingerprint

    # -- stage execution -------------------------------------------------------

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        *,
        fingerprint: str = "static",
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Return the committed output of `name`, computing and committing
        it first if absent or stale. Idempotent: killing the job after any
        stage and re-running skips all committed stages."""
        out = os.path.join(self.root, name)
        if self._committed(name, fingerprint):
            return self.spark.read.parquet(out)
        t0 = time.time()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        part_rows = footer_row_counts(out, partition_by or [])
        n = sum(p["rows"] for p in part_rows)
        self._append_lineage(
            {
                "stage": name,
                "fingerprint": fingerprint,
                "rows": n,
                "wall_ms": int((time.time() - t0) * 1000),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "partitions": partition_by or [],
                "partition_rows": json.dumps(part_rows),
            }
        )
        return self.spark.read.parquet(out)
