"""Lake table maintenance — the operational half of a CDC sink.

Per-batch merges write small files continuously (the reference's
10 s commit cadence, `connect-iceberg-sink.json:17`, produces a new
Iceberg snapshot every commit); without maintenance, scan cost
degrades as the file count grows. Iceberg ships rewrite_data_files /
expire_snapshots actions; this is the parquet-mirror equivalent:

- ``compact_small_files``: rewrite a parquet dir to size-targeted
  files (one coalesced pass; reads once, writes once),
- ``cleanup_staging``: drop the staged swap dirs an interrupted
  commit leaves next to a mirror (``{mirror}_b{N}_staged`` from a
  streaming commit's fold, ``{mirror}_b{N}_delta_staged`` from its
  delta write; snapshot-expiration analogue).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def dir_stats(path: str) -> tuple[int, int]:
    """(total data bytes, parquet file count) of a local table dir.
    On a real cluster this walks the FileSystem API instead."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def compact_small_files(spark: SparkSession, path: str,
                        target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES) -> int:
    """Rewrite ``path`` to ceil(total/target) files; returns the new
    file count. Equivalent to Iceberg's rewrite_data_files (bin-pack).

    Uses coalesce (no shuffle) — file sizing, not clustering; use
    ``sources.bucketed.write_bucketed`` when the goal is layout."""
    total, _ = dir_stats(path)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    staged = path + "_compacting"
    df.coalesce(n_files).write.mode("overwrite").parquet(staged)
    spark.read.parquet(staged).write.mode("overwrite").parquet(path)
    shutil.rmtree(staged, ignore_errors=True)
    return dir_stats(path)[1]


def cleanup_staging(mirror_path: str) -> int:
    """Remove stale staged swap dirs (``{mirror}_b{N}``,
    ``{mirror}_compacting``, ``{mirror}_staged``) next to a mirror —
    the snapshot-expiration analogue. Returns dirs removed."""
    base = os.path.basename(mirror_path)
    parent = os.path.dirname(mirror_path)
    removed = 0
    for name in os.listdir(parent):
        full = os.path.join(parent, name)
        if not os.path.isdir(full) or name == base:
            continue
        stem = name[len(base):] if name.startswith(base) else ""
        if stem.startswith("_b") or stem in ("_compacting", "_staged"):
            shutil.rmtree(full, ignore_errors=True)
            removed += 1
    return removed
