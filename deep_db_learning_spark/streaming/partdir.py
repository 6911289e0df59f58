"""Append-only ``batch=<id>`` partition directories + manifest
compaction — the storage shape shared by the SCD2 closed area and the
crawl kept corpus (and any other per-micro-batch overwrite-partition
output).

Contract recap (why this layout): each micro-batch owns ONE partition
directory it writes with overwrite — a replayed batch rewrites the
identical directory, so the area is replay-idempotent without any
read-modify-write. The cost is directory count: after N batches, every
reader lists and opens N small-file directories.

Compaction folds the live directories into one ``compacted_<id>``
behind an atomically flipped ``_MANIFEST`` (``os.replace``):

- readers consult the manifest, so superseded-directory deletion is
  pure GC — a crash between flip and GC leaves covered leftovers that
  reads IGNORE (and a replayed covered batch, were the stream cursor
  ever lost, would be ignored the same way);
- a crash before the flip leaves an orphan ``compacted_*`` directory
  that reads ignore and the next compaction overwrites.

On a real cluster this is the poor-man's Delta/Iceberg manifest; the
operators above it don't change when the storage layer does.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _manifest_path(part_dir: str) -> str:
    return os.path.join(part_dir, "_MANIFEST")


def read_manifest(part_dir: str) -> dict | None:
    """``{"compacted": <dirname>, "covers_through": <batch_id>}`` once
    :func:`compact_parts` has run; ``None`` before."""
    try:
        with open(_manifest_path(part_dir)) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return None


def live_parts(part_dir: str) -> list[str]:
    """Live directories: the compacted dir (if any) plus every
    ``batch=`` partition NOT covered by it."""
    man = read_manifest(part_dir)
    covered = -1 if man is None else int(man["covers_through"])
    parts = []
    if man is not None:
        parts.append(man["compacted"])
    parts.extend(
        d
        for d in sorted(os.listdir(part_dir))
        if d.startswith("batch=") and int(d.split("=", 1)[1]) > covered
    )
    return parts


def read_parts(
    spark: SparkSession, part_dir: str, schema: StructType | None = None
) -> DataFrame | None:
    """The live directories as one frame (``None`` when there are
    none). ``schema``: the parts' schema when the caller knows it —
    skips Parquet schema inference, a Spark job per read; default
    infers."""
    parts = live_parts(part_dir)
    if not parts:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*[os.path.join(part_dir, d) for d in parts])


def compact_parts(
    spark: SparkSession, part_dir: str, coalesce_div: int = 8
) -> int:
    """Fold the live directories into one ``compacted_<maxid>`` and
    flip the manifest (see module docstring for the crash analysis).
    Returns the number of directories replaced (0 = nothing new)."""
    from ..checkpoint import cut_lineage

    parts = live_parts(part_dir)
    batch_parts = [p for p in parts if p.startswith("batch=")]
    if not batch_parts:
        return 0
    covers = max(int(p.split("=", 1)[1]) for p in batch_parts)
    merged = spark.read.parquet(
        *[os.path.join(part_dir, p) for p in parts]
    )
    # materialize before GC can touch the files the plan reads; also
    # breaks the read-what-you-replace hazard on a covers collision
    merged = cut_lineage(merged, eager=True)
    new_dir = f"compacted_{covers}"
    merged.coalesce(
        max(1, merged.rdd.getNumPartitions() // coalesce_div)
    ).write.mode("overwrite").parquet(os.path.join(part_dir, new_dir))
    tmp = _manifest_path(part_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"compacted": new_dir, "covers_through": covers}, f)
    os.replace(tmp, _manifest_path(part_dir))  # atomic flip
    for d in os.listdir(part_dir):
        if d == new_dir or d == "_MANIFEST":
            continue
        if d.startswith("compacted_") or (
            d.startswith("batch=") and int(d.split("=", 1)[1]) <= covers
        ):
            shutil.rmtree(os.path.join(part_dir, d), ignore_errors=True)
    return len(parts)
