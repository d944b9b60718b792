"""Lake table maintenance — the operational half of a CDC sink.

Per-batch merges write small files continuously (the reference's
10 s commit cadence, `connect-iceberg-sink.json:17`, produces a new
Iceberg snapshot every commit); without maintenance, scan cost
degrades as the file count grows. Iceberg ships rewrite_data_files /
expire_snapshots actions. On the parquet mirror, small-file
maintenance is ``BucketedMirror.compact()`` (cdc/bucketed.py); this
module holds the rest:

- ``dir_stats``: data bytes and parquet file count of a table dir,
- ``cleanup_staging``: drop the swap dirs an interrupted commit leaves
  next to a mirror, exactly the names ``bucketed.staged_path`` builds
  (``<mirror>_<tag>_delta_staged`` from a delta commit,
  ``<mirror>_<tag>_merge_staged`` from a fold,
  ``<mirror>_compact_rewrite_staged`` from ``compact()``; the
  snapshot-expiration analogue).
"""

from __future__ import annotations

import os
import shutil

from .bucketed import is_staged_of


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


def cleanup_staging(mirror_path: str) -> int:
    """Remove the stale staged swap dirs of the mirror at
    ``mirror_path`` (``bucketed.is_staged_of``); sibling mirrors and
    their staged dirs are kept. Returns dirs removed."""
    parent = os.path.dirname(mirror_path)
    removed = 0
    for name in os.listdir(parent):
        full = os.path.join(parent, name)
        if os.path.isdir(full) and is_staged_of(mirror_path, name):
            shutil.rmtree(full, ignore_errors=True)
            removed += 1
    return removed
