"""Exactly-once commit protocol for foreachBatch state directories.

Structured Streaming's foreachBatch is at-least-once: a crashed batch
is replayed with the same ``batch_id``.  Every stateful processor here
(incremental dedup, streaming curation) therefore follows one
discipline:

1. each batch writes its outputs into per-batch ``batch_id=<n>``
   partition directories with ``mode=overwrite`` (a half-written crashed
   attempt is replaced wholesale on replay);
2. AFTER all writes succeed, a JSON commit marker is atomically renamed
   into ``_commits/``;
3. readers list only the COMMITTED ``batch_id=<n>`` directories
   (:func:`read_committed`) — uncommitted leftovers are never listed,
   so neither a scan nor schema inference can open one;
4. a replay of a fully committed batch is a no-op.

At cluster scale the markers are snapshot properties on Iceberg
appends; the single-host form is a marker file per batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def committed_ids(commits_dir: str) -> list[int]:
    """Sorted batch ids holding a published commit marker."""
    if not os.path.isdir(commits_dir):
        return []
    return sorted(
        int(f[len("batch-"):-len(".json")])
        for f in os.listdir(commits_dir)
        if f.startswith("batch-") and f.endswith(".json")
    )


def read_committed(spark: SparkSession, root: str, committed: list[int]) -> DataFrame:
    """The committed partitions of one state table, without ``batch_id``.
    Only the ``batch_id=<i>`` directories of ``committed`` are listed, so
    parquet footer inference never lands on a crashed attempt's
    half-written file, wherever it sorts in the table's listing."""
    return (
        spark.read.option("basePath", root)
        .parquet(*(os.path.join(root, f"batch_id={i}") for i in committed))
        .drop("batch_id")
    )


def marker_path(commits_dir: str, batch_id: int) -> str:
    return os.path.join(commits_dir, f"batch-{batch_id}.json")


def publish_marker(commits_dir: str, batch_id: int, payload: dict) -> None:
    """Atomic write-then-rename AFTER all state writes succeeded."""
    os.makedirs(commits_dir, exist_ok=True)
    marker = marker_path(commits_dir, batch_id)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"batch_id": batch_id, **payload}, fh)
    os.replace(tmp, marker)


def read_markers(commits_dir: str, ids: list[int]) -> list[dict]:
    out = []
    for i in ids:
        with open(marker_path(commits_dir, i)) as fh:
            out.append(json.load(fh))
    return out
