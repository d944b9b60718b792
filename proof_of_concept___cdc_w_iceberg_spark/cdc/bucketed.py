"""Partition-scoped, merge-on-read CDC mirror — the scale path for the
no-Iceberg fallback.

The plain fallback (`iceberg.py` merge_into without Iceberg, i.e.
`apply.py` apply_changes) rewrites the WHOLE mirror per batch: correct,
but at 100 TB with a 10 s trigger it is a full-table write per commit.
The reference never pays that cost because the Iceberg sink commits
equality deletes + new data files per snapshot
(`connect-iceberg-sink.json:30-33`) — only touched data moves.

This module restores that property without Iceberg. The mirror is a
BASE parquet table partitioned by a key-hash bucket column plus at most
one pending DELTA (``_delta/v<gen>``): the latest image of every key
changed since the last fold, deletes kept as ``__deleted`` tombstones.
Cost model:

- A commit rewrites only the delta: it compacts (delta ∪ batch)
  latest-wins, the batch winning, into the next generation and
  publishes it with one directory rename. It writes O(batch + delta)
  rows, never the base, and runs two Spark jobs (the compaction's
  shuffle and the write).
- ``read()`` is base ⋉̸ (delta keys) ∪ the delta's live rows, with the
  delta's keys broadcast: one extra job per read while a delta is
  pending.
- A FOLD rewrites the base: once the delta holds more than
  1/``FOLD_DIVISOR`` of the base's rows, or its keys no longer fit a
  broadcast (``_fits_broadcast``), the commit feeds the delta as a
  compacted batch through the copy-on-write merge (``merge_staged``),
  which rewrites ONLY the bucket partitions the delta's keys land in,
  by swapping in freshly written bucket directories: O(touched buckets
  × bucket size), not O(|mirror|). An empty or small base (relative to
  the batch) folds on every commit, and ``compact()`` folds first.

Layout rules:

- Bucket count (``n_buckets=None``): sized at ``init`` to one scan
  split of data per bucket, ``ceil(estimated snapshot bytes /
  spark.sql.files.maxPartitionBytes)``, and recorded in the mirror's
  sidecar with the base's row count. A bucket smaller than a split
  buys no read parallelism but still costs one file (and its fixed
  write cost) per fold that touches it; a bucket larger than a split
  makes every touched-bucket rewrite move more bytes. So the write
  amplification of a fold is bounded by one split per touched bucket:
  a 1 MB mirror is one bucket and each fold rewrites it whole, while a
  1 TB mirror is 8 192 buckets of 128 MB and a delta touching 100 keys
  rewrites at most 100 of them. The count is fixed at ``init``; a
  mirror that outgrows it keeps its buckets and they grow.
- The bucket column is ``pmod(hash(keys), n)`` — deterministic, so
  change rows co-locate with the mirror rows they replace, and the
  per-bucket merge join never sees foreign keys.
- Buckets whose merged result is empty (every row deleted) are
  cleared explicitly — a bucket with no surviving rows writes no
  staged directory, which would otherwise leave its old files in
  place and resurrect deleted rows.

At even larger scale the same layout extends to date × bucket
(``TwoLevelMirror``): the outer date level gives retention drops,
time-pruned reads, and batch-date pruning on a fold; the inner hash
bucket keeps the merge partition-scoped. ``compact()`` on either
layout is the parquet analogue of Iceberg's ``rewrite_data_files``
small-file maintenance (`connect-iceberg-sink.json:19-29`). On a real
lake this whole module is replaced by the Iceberg MERGE path
(`iceberg.py`); this is the fallback done right, not a competitor.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .apply import compact_latest, upsert_compacted
from .evolve import evolved_schema

BUCKET_COL = "__bucket"
# Bucket count for a snapshot whose size the planner cannot estimate
# (e.g. a DataFrame built from a Python list, whose plan is an RDD scan).
UNSIZED_BUCKETS = 16
# The pending delta lives in one generation dir, <mirror>/_delta/v<gen>;
# its rows carry the tombstone flag, and DELTA_META holds its row count.
DELTA_DIR = "_delta"
DELETED_COL = "__deleted"
DELTA_META = "_delta.json"
# A commit folds the delta into the base once the delta holds more than
# 1/FOLD_DIVISOR of the base's rows. Picked from the commit times
# measured against delta size (see CHANGES.md): a delta commit costs a
# fixed part plus ~5 us per delta row, a fold ~1.3 s at 100k base rows
# and ~2.7 s at 1M, and 1/16 minimises their mean per commit at 100k.
FOLD_DIVISOR = 16
# Helper columns of a delta commit: which side of (delta ∪ batch) a row
# came from, and the op column a delta carries as a compacted batch.
_SRC = "__src"
_FOLD_OP = "__op"
# A mirror stages each write in a swap dir next to it: a delta commit's
# next generation, a fold's merged leaves, compact()'s rewritten leaves.
STAGED_KINDS = ("delta", "merge", "rewrite")


def staged_path(path: str, tag: str, kind: str) -> str:
    """The swap dir a ``kind`` write of the mirror at ``path`` stages
    in: ``<mirror>_<tag>_<kind>_staged``. Tags hold no underscore
    (``b<id>``, ``ts<ts>``, ``batch``, ``compact``), so the name parses
    back to exactly one mirror (``is_staged_of``): cleaning ``<m>``
    never takes ``<m>_x``'s dirs."""
    return f"{path}_{tag}_{kind}_staged"


def is_staged_of(path: str, name: str) -> bool:
    """Whether sibling dir ``name`` is a ``staged_path`` of ``path``."""
    return re.fullmatch(
        rf"{re.escape(os.path.basename(path))}_[^_]+_({'|'.join(STAGED_KINDS)})_staged",
        name) is not None


def bucket_expr(keys: list[str], n_buckets: int):
    """Deterministic key→bucket assignment: pmod(hash, n) ∈ [0, n)."""
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def sized_bucket_count(df: DataFrame) -> int:
    """One bucket per scan split of ``df``'s estimated size:
    ``max(1, ceil(bytes / spark.sql.files.maxPartitionBytes))``.

    The estimate is the optimized plan's size statistic, so sizing runs
    no Spark job. It is capped by the sum of the plan's leaf sizes,
    because a join's estimate is the product of its inputs' sizes. A
    plan with a leaf of unknown size (Spark reports
    spark.sql.defaultSizeInBytes for it, e.g. an RDD scan) gets
    ``UNSIZED_BUCKETS``: the estimates above such a leaf are scaled
    from that placeholder (a column-narrowing select halves it), not
    from data."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    leaf_bytes = [int(leaves.apply(i).stats().sizeInBytes())
                  for i in range(leaves.size())]
    if max(leaf_bytes, default=0) >= conf.defaultSizeInBytes():
        return UNSIZED_BUCKETS
    est = min(int(plan.stats().sizeInBytes()), sum(leaf_bytes))
    return max(1, -(-est // conf.filesMaxPartitionBytes()))


def _fits_broadcast(df: DataFrame, rows: int) -> bool:
    """Whether ``rows`` rows of ``df`` fit
    spark.sql.autoBroadcastJoinThreshold, sized as the planner sizes a
    row: 8 bytes of row overhead plus each column's default size."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    row_bytes = 8 + df._jdf.schema().defaultSize()
    return 0 <= rows * row_bytes <= conf.autoBroadcastJoinThreshold()


def _leaf_files(root: str):
    """(leaf partition dir relative to ``root``, its parquet file names)
    for every leaf holding data, at any partition depth. Like Spark's
    file index, it skips ``_``-prefixed dirs that are not partition
    dirs (the pending delta)."""
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith("_") or "=" in x]
        pq = {f for f in files if f.endswith(".parquet")}
        if pq and d != root and "=" in os.path.basename(d):
            yield os.path.relpath(d, root), pq


def _parquet_rows(root: str, leaves) -> int:
    """Rows in the parquet files of ``leaves`` (dirs relative to
    ``root``; missing ones count 0), read from the file footers."""
    n = 0
    for rel in leaves:
        d = os.path.join(root, rel)
        if os.path.isdir(d):
            n += sum(pq.read_metadata(os.path.join(d, f)).num_rows
                     for f in os.listdir(d) if f.endswith(".parquet"))
    return n


def merge_staged(subset: DataFrame, latest: DataFrame, key_rows: DataFrame,
                 n_rows: int, keys: list[str], part_cols: list[str],
                 staged: str, op_col: str = "op") -> set[str]:
    """The one mirror merge: rewrite the touched partitions ``subset``
    with the compacted batch ``latest`` into ``staged`` and return the
    leaf partition dirs written there (relative paths). Both relations
    carry ``part_cols``; publishing the staged leaves is the caller's.

    The anti-join reads its keys from ``key_rows`` (the batch, or any
    relation with the same key set), ``n_rows`` rows of it. When those
    rows fit spark.sql.autoBroadcastJoinThreshold the key side is
    broadcast, so a batch whose plan carries no size estimate (an
    RDD-backed frame) still never shuffles the touched partitions by
    key; a larger batch falls back to the planner's sort-merge join.

    The merged relation (survivors + upserts) goes through one AQE
    rebalance on the partition columns: at small sizes AQE coalesces
    it to a few tasks holding whole partitions, so each touched leaf is
    rewritten as ONE file (no small-file growth per commit); an
    oversized leaf is split across several writers instead of
    funnelling through one task. Writing survivors straight from their
    scan tasks instead leaves several files per leaf, and the scan
    packs big leaves into one split, so one task writes nearly the
    whole subset."""
    key_rows = key_rows.select(*keys)
    if _fits_broadcast(key_rows, n_rows):
        key_rows = F.broadcast(key_rows)
    merged = upsert_compacted(subset, latest, keys, op_col=op_col,
                              key_rows=key_rows)
    (merged.hint("rebalance", *part_cols).write.mode("overwrite")
     .partitionBy(*part_cols).parquet(staged))
    return {rel for rel, _ in _leaf_files(staged)}


def _part_value(v):
    """A ``_partition_key`` value as a ``_partition_rows`` key: a
    (date, bucket) struct comes back as a Row, i.e. a tuple."""
    return tuple(v) if isinstance(v, tuple) else v


class PreparedBatch:
    """A change batch compacted latest-wins and persisted ahead of a
    mirror's ``apply``, with its rows per mirror partition under
    ``n_buckets`` (the collect that materialized it).

    Preparing reads only the changes, never the mirror, so it can run
    concurrently with ``init`` or other independent jobs. Every mirror
    ``apply`` accepts a handle in place of the raw changes and releases
    it when it returns or raises. ``release()`` is idempotent, and a
    handle is a context manager, so a caller can release one that never
    reaches ``apply``. Two handles of the same plan share Spark's cache
    entry: releasing either drops it, and the other then recomputes."""

    def __init__(self, latest: DataFrame, n_buckets: int, rows: dict):
        self.latest = latest
        self.n_buckets = n_buckets
        self.rows = rows
        self._released = False

    def release(self) -> None:
        if not self._released:
            self._released = True
            self.latest.unpersist()

    def __enter__(self) -> PreparedBatch:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


class PreparingMirror:
    """``prepare`` for every mirror layout. A subclass provides
    ``keys``, ``order_cols`` and ``n_buckets``, and overrides
    ``_partition_rows`` when it partitions by more than the bucket."""

    def _bucket_count(self) -> int:
        """The bucket count a batch prepared now is counted under."""
        return self.n_buckets

    def prepare(self, changes: DataFrame) -> PreparedBatch:
        """Compact ``changes`` latest-wins, persist the result and count
        its rows per partition; that collect is what materializes it."""
        n = self._bucket_count()
        latest = compact_latest(changes, self.keys, self.order_cols).persist()
        try:
            return PreparedBatch(latest, n, self._partition_rows(latest, n))
        except BaseException:
            latest.unpersist()
            raise

    def _batch(self, changes: DataFrame | PreparedBatch) -> PreparedBatch:
        """``changes`` as a handle, preparing a raw DataFrame."""
        if isinstance(changes, PreparedBatch):
            return changes
        return self.prepare(changes)

    def _rows(self, batch: PreparedBatch, n: int) -> dict:
        """The batch's rows per partition under ``n`` buckets; reuses
        the prepare collect when it counted under ``n``."""
        if batch.n_buckets == n:
            return batch.rows
        return self._partition_rows(batch.latest, n)

    def _partition_rows(self, df: DataFrame, n: int) -> dict:
        """Rows of ``df`` per bucket under ``n`` buckets — at most ``n``
        entries, one collect."""
        rows = (df.groupBy(bucket_expr(self.keys, n).alias(BUCKET_COL))
                .count().collect())
        return {r[0]: r[1] for r in rows}


class BucketedMirror(PreparingMirror):
    """A parquet mirror partitioned by key-hash bucket with merge-on-read
    CDC apply (module docstring: the delta, the fold, the cost model).

    ``init(snapshot)`` lays the table out; ``apply(changes)`` commits a
    change batch to the pending delta, folding it into the touched
    bucket partitions past the size threshold; ``read()`` returns the
    logical table (base merged with the delta, bucket column dropped).

    ``n_buckets=None`` sizes the bucket count to the snapshot at
    ``init`` (``sized_bucket_count``). Either way ``init`` records the
    count in the ``_schema.json`` sidecar, and every later apply uses
    the recorded count; an explicit ``n_buckets`` that disagrees with it
    raises ``ValueError`` instead of hashing keys into the wrong
    buckets.
    """

    def __init__(self, spark: SparkSession, path: str, keys: list[str],
                 n_buckets: int | None = None,
                 order_cols: list[str] = ("ts_ms", "off")):
        if n_buckets is not None and n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets!r}")
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self._n_buckets = n_buckets
        self.order_cols = list(order_cols)

    @property
    def n_buckets(self) -> int:
        """The bucket count keys hash into: the one recorded at
        ``init``, else the explicit constructor value."""
        recorded = (self._sidecar() or {}).get("n_buckets")
        if recorded is None:
            if self._n_buckets is None:
                raise ValueError(
                    f"{self.path}: no recorded bucket count; init() the "
                    f"mirror or pass n_buckets")
            return self._n_buckets
        if self._n_buckets is not None and self._n_buckets != recorded:
            raise ValueError(
                f"{self.path} is laid out in {recorded} buckets, "
                f"not n_buckets={self._n_buckets}")
        return recorded

    def _partition_cols(self) -> list[str]:
        return [BUCKET_COL]

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(BUCKET_COL, bucket_expr(self.keys, self.n_buckets))

    def _schema_path(self) -> str:
        return os.path.join(self.path, "_schema.json")

    def _sidecar(self) -> dict | None:
        """``{"schema": ..., "n_buckets": ..., "rows": ...}`` as ``init``
        wrote it (``rows``: the base's row count, kept by every fold);
        None before ``init``."""
        if not os.path.exists(self._schema_path()):
            return None
        with open(self._schema_path()) as f:
            return json.load(f)

    def _write_sidecar(self, meta: dict) -> None:
        tmp = self._schema_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._schema_path())

    def _schema(self) -> T.StructType:
        """The row schema from the sidecar."""
        return T.StructType.fromJson(self._sidecar()["schema"])

    def add_columns(self, row: T.StructType) -> T.StructType:
        """Append ``row``'s columns the mirror lacks, nullable, to the
        sidecar schema (``evolved_schema``) and return the new schema:
        Iceberg ADD COLUMNS, metadata only. Base and delta files written
        before read NULL for them, as every scan reads with the sidecar
        schema."""
        meta = self._sidecar()
        schema = evolved_schema(self._schema(), row)
        if len(schema) > len(meta["schema"]["fields"]):
            meta["schema"] = schema.jsonValue()
            self._write_sidecar(meta)
        return schema

    def _empty(self) -> DataFrame:
        """Zero rows of the sidecar schema, nullability kept."""
        return self.spark.createDataFrame([], self._schema())

    def _scan(self) -> DataFrame:
        """Every data file, partition columns included. The schema comes
        from the sidecar, so building the scan runs no footer-reading
        job, and a layout with no data files reads as zero rows (its
        columns nullable, as a file scan makes them)."""
        schema = self._schema().add(BUCKET_COL, T.IntegerType())
        return self.spark.read.schema(schema).parquet(self.path)

    def _has_buckets(self) -> bool:
        return any(_leaf_files(self.path))

    def init(self, snapshot: DataFrame, writers: int | None = None) -> None:
        """Lay the table out in the explicit ``n_buckets``, or in
        ``sized_bucket_count(snapshot)`` buckets, and record the count
        and the row schema in the sidecar. Re-initialising a mirror
        replaces its layout, count included.

        ``writers=None`` (default) shuffles by the partition columns
        first — one writer set per partition dir, one file per bucket.
        ``writers=N`` skips that clustering shuffle and writes with N
        tasks each holding rows of many buckets — the cheap-ingest
        layout a large snapshot load actually produces (hundreds of
        upstream tasks, ~N files PER bucket dir), the fragmentation
        that ``compact()`` exists to repair.

        The writer split hashes the merge keys (xxhash64) instead of a
        round-robin ``repartition(N)``: the keyless form pays a local
        sort of the whole input (sortBeforeRepartition, so that retried
        map tasks reproduce their row→partition assignment), while a
        key hash is retry-stable for free. Measured 1.2-1.4 s → 0.8-0.9 s
        on the sf0.1 ingest write. The split assumes high-cardinality
        keys: with few distinct or heavily skewed keys some writers get
        most of the rows (at the extreme, fewer non-empty writers than
        N), so the layout is less fragmented than N files per bucket."""
        if writers is not None and writers < 1:
            raise ValueError(f"writers must be >= 1, got {writers!r}")
        n = self._n_buckets or sized_bucket_count(snapshot)
        cols = self._partition_cols()
        bucketed = snapshot.withColumn(BUCKET_COL, bucket_expr(self.keys, n))
        part = (bucketed.repartition(
                    writers, F.xxhash64(*[F.col(k) for k in self.keys]))
                if writers is not None else bucketed.repartition(*cols))
        part.write.mode("overwrite").partitionBy(*cols).parquet(self.path)
        # Written after the data (the overwrite clears the directory,
        # pending delta included). A zero-row partitioned write leaves
        # no data files to infer from, so an empty (or fully-deleted)
        # mirror must still know its row shape. (An Iceberg/catalog
        # table carries both in table metadata.) The row count comes
        # from the written files' footers, as a fold keeps it.
        self._write_sidecar({
            "schema": snapshot.schema.jsonValue(), "n_buckets": n,
            "rows": _parquet_rows(self.path, dict(_leaf_files(self.path)))})

    # --- the pending delta ------------------------------------------------

    def _pending(self) -> tuple[str, int] | None:
        """(dir, row count) of the newest published delta generation;
        None when no delta is pending. An older generation left by an
        interrupted commit is shadowed by the newer one."""
        root = os.path.join(self.path, DELTA_DIR)
        gens = ([int(d[1:]) for d in os.listdir(root)
                 if d[:1] == "v" and d[1:].isdigit()]
                if os.path.isdir(root) else [])
        if not gens:
            return None
        d = os.path.join(root, f"v{max(gens)}")
        with open(os.path.join(d, DELTA_META)) as f:
            return d, json.load(f)["rows"]

    @property
    def delta_rows(self) -> int:
        """Rows of the pending delta (tombstones included); 0 when every
        commit has been folded into the base."""
        pending = self._pending()
        return pending[1] if pending else 0

    def _delta_scan(self, d: str) -> DataFrame:
        """The delta rows in ``d``: the row columns plus the tombstone
        flag. Scanned with the sidecar schema, so building it runs no
        job."""
        schema = self._schema().add(DELETED_COL, T.BooleanType())
        return self.spark.read.schema(schema).parquet(d)

    def _delta_latest(self, d: str) -> DataFrame:
        """The delta in ``d`` as a compacted batch: one row per key with
        ``_FOLD_OP`` 'd' on tombstones."""
        return (self._delta_scan(d)
                .withColumn(_FOLD_OP, F.when(F.col(DELETED_COL), F.lit("d"))
                            .otherwise(F.lit("u")))
                .drop(DELETED_COL))

    def _fold_due(self, delta: DataFrame, rows: int) -> bool:
        """Whether a delta of ``rows`` rows (of ``delta``, which carries
        the key columns) belongs in the base: past 1/FOLD_DIVISOR of the
        base's recorded rows, or too big to broadcast its keys."""
        return (rows * FOLD_DIVISOR > self._sidecar()["rows"]
                or not _fits_broadcast(delta.select(*self.keys), rows))

    def read(self) -> DataFrame:
        """The logical table: the base with every delta key anti-joined
        away, plus the delta's live rows. Building it runs no job; a
        read with a pending delta runs one extra job (the broadcast of
        the delta's keys)."""
        base = (self._scan().drop(BUCKET_COL) if self._has_buckets()
                else self._empty())
        pending = self._pending()
        if pending is None:
            return base
        d, rows = pending
        latest = self._delta_latest(d)
        keys = latest.select(*self.keys)
        if _fits_broadcast(keys, rows):
            keys = F.broadcast(keys)
        return upsert_compacted(base, latest, self.keys, op_col=_FOLD_OP,
                                key_rows=keys)

    def apply(self, changes: DataFrame | PreparedBatch, op_col: str = "op",
              tag: str = "batch") -> list:
        """Commit a change batch. Returns the partitions its keys land
        in (``_partition_rows`` keys: buckets, or (date, bucket) pairs),
        sorted; ``[]`` for an empty batch, which commits nothing.

        Plan shape: one write job chain compacts (pending delta ∪ batch)
        latest-wins — one shuffle on the keys, the batch winning — into
        the next delta generation, published by one rename; the batch's
        partitions and the delta's size come from an ``observe`` on that
        write, not from a job of their own. When the new delta is due
        (``_fold_due``) the commit folds it (``_fold``).

        ``changes`` may also be a ``prepare`` handle, which apply
        releases. Its rows per partition are known before any write, so
        when no delta is pending and the batch alone is due to fold, it
        goes straight to the copy-on-write merge instead of through a
        delta that would be folded at once.
        """
        if isinstance(changes, PreparedBatch):
            with changes:
                rows = self._rows(changes, self.n_buckets)
                n_rows = sum(rows.values())
                if (self._pending() is None
                        and self._fold_due(changes.latest, n_rows)):
                    return self._merge(changes.latest, changes.latest,
                                       sorted(rows), n_rows, op_col, tag)
                return self._commit_delta(changes.latest, op_col, tag)
        return self._commit_delta(changes, op_col, tag)

    def _commit_delta(self, batch: DataFrame, op_col: str, tag: str) -> list:
        """apply() through the delta: write (pending delta ∪ ``batch``)
        compacted latest-wins as the next generation, publish it, and
        fold it when due."""
        n = self.n_buckets
        schema = self._schema()
        cols = [F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields]
        order = [F.col(c) for c in self.order_cols]
        new = batch.select(
            *cols, *order, F.lit(1).alias(_SRC),
            ((F.col(op_col) == "d") | F.col(op_col).isNull())
            .alias(DELETED_COL))
        pending = self._pending()
        if pending is not None:
            # The batch on the left: the union, and so the write, runs
            # in the batch's session (a foreachBatch frame's own), where
            # an observe the caller put on the batch is registered.
            new = new.unionByName(self._delta_scan(pending[0]).select(
                *schema.fieldNames(),
                *[F.lit(None).cast(batch.schema[c].dataType).alias(c)
                  for c in self.order_cols],
                F.lit(0).alias(_SRC), DELETED_COL))
        part = self._partition_key(n)
        seen = Observation()
        delta = compact_latest(new, self.keys, [_SRC, *self.order_cols]).observe(
            seen, F.count(F.lit(1)).alias("rows"),
            F.collect_set(part).alias("parts"),
            F.collect_set(F.when(F.col(_SRC) == 1, part)).alias("touched"))
        staged = staged_path(self.path, tag, "delta")
        (delta.select(*schema.fieldNames(), DELETED_COL)
         .write.mode("overwrite").parquet(staged))
        got = seen.get
        touched = sorted(_part_value(p) for p in got["touched"])
        if not touched:
            shutil.rmtree(staged, ignore_errors=True)
            return []
        with open(os.path.join(staged, DELTA_META), "w") as f:
            json.dump({"rows": got["rows"]}, f)
        root = os.path.join(self.path, DELTA_DIR)
        gen = int(os.path.basename(pending[0])[1:]) + 1 if pending else 1
        os.makedirs(root, exist_ok=True)
        os.rename(staged, os.path.join(root, f"v{gen}"))
        for d in os.listdir(root):
            if d != f"v{gen}":
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        if self._fold_due(delta, got["rows"]):
            self._fold(tag, sorted(_part_value(p) for p in got["parts"]))
        return touched

    def _fold(self, tag: str, parts: list | None = None) -> None:
        """Fold the pending delta into the base: the delta, as a
        compacted batch, goes through the copy-on-write merge
        (``_merge``), then the delta dir is removed. ``parts``: the
        delta's partitions when known, else one collect counts them.
        Interrupted after the leaves swap in and before the delta is
        removed, ``read()`` is unchanged: the base already holds the
        delta's images, and merging them again is a no-op."""
        pending = self._pending()
        if pending is None:
            return
        d, rows = pending
        latest = self._delta_latest(d)
        if parts is None:
            parts = sorted(self._partition_rows(latest, self.n_buckets))
        self._merge(latest, latest, parts, rows, _FOLD_OP, tag)
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)

    def _partition_key(self, n: int):
        """The partition a row lands in under ``n`` buckets, as one
        column (``_part_value`` turns its values into
        ``_partition_rows`` keys)."""
        return bucket_expr(self.keys, n)

    # --- the copy-on-write merge (every fold) -------------------------------

    def _merge(self, latest: DataFrame, batch: DataFrame, touched: list,
               n_rows: int, op_col: str, tag: str) -> list:
        """Merge the compacted batch ``latest`` into the base, rewriting
        only the ``touched`` partitions; the anti-join reads its keys
        from ``batch`` (``latest`` or the relation it was compacted
        from), ``n_rows`` rows of it. Keeps the base's recorded row
        count."""
        if not touched:
            return []
        # Partition columns kept: the merged relation is written
        # partitioned by them.
        subset = self._scan().filter(self._touched_filter(touched))
        # Stage before overwriting partitions we are also reading
        # from — the parquet-table analogue of Iceberg's snapshot
        # commit.
        staged = staged_path(self.path, tag, "merge")
        written = merge_staged(
            subset, self._with_bucket(latest), batch, n_rows,
            self.keys, self._partition_cols(), staged, op_col)
        leaves = {self._leaf(p) for p in touched}
        meta = self._sidecar()
        meta["rows"] += (_parquet_rows(staged, written)
                         - _parquet_rows(self.path, written | leaves))
        self._publish(staged, written, leaves)
        self._write_sidecar(meta)
        return touched

    def _touched_filter(self, touched: list):
        """Partition-pruning predicate over the touched partitions."""
        return F.col(BUCKET_COL).isin(touched)

    def _leaf(self, part) -> str:
        """Relative leaf dir of one ``_partition_rows`` key."""
        vals = part if isinstance(part, tuple) else (part,)
        return os.path.join(*(f"{c}={v}" for c, v in
                              zip(self._partition_cols(), vals)))

    def _publish(self, staged: str, written: set[str],
                 touched: set[str]) -> None:
        """Swap the staged leaves in, one directory rename each, and
        clear touched leaves the merge left empty: a leaf whose rows
        were all deleted writes nothing to the staged dir, and its old
        files would otherwise survive. Content is byte-identical (the
        staged files ARE the files), and no second read+shuffle+write
        job runs.

        FILESYSTEM ASSUMPTION: os.rename is an atomic, O(1) metadata
        move on the POSIX filesystems this local lake emulates. On an
        object store directory "rename" is copy+delete and NON-atomic —
        a production port must publish through the catalog's pointer
        swap (Iceberg metadata commit) or an atomic-rename-capable
        layer (HDFS, Azure ADLS Gen2), like the manifest commit in
        cdc/versioned.py."""
        for rel in written:
            target = os.path.join(self.path, rel)
            shutil.rmtree(target, ignore_errors=True)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.rename(os.path.join(staged, rel), target)
        for rel in touched - written:
            shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)

    def partition_files(self) -> dict:
        """Parquet file names per leaf partition, keyed by bucket (or by
        (date dir value, bucket)) — test/observability hook for
        asserting which partitions a batch physically rewrote."""
        out: dict = {}
        for rel, files in _leaf_files(self.path):
            *outer, bucket = [p.split("=", 1)[1] for p in rel.split(os.sep)]
            out[(*outer, int(bucket)) if outer else int(bucket)] = files
        return out

    def compact(self) -> dict[str, tuple[int, int]]:
        """Small-file maintenance: rewrite every leaf partition holding
        more than one parquet file as one file — the parquet analogue of
        Iceberg ``rewrite_data_files`` (`connect-iceberg-sink.json:19-29`).
        Content is untouched (``read()`` identical before/after); only
        the file count per fragmented leaf drops. Returns {leaf dir:
        (files before, files after)} for the leaves rewritten.

        One Spark job rewrites every fragmented leaf: the scan (sidecar
        schema, ``basePath``) keeps the partition columns, and
        repartitioning by them writes one file per leaf dir, which
        ``_publish`` swaps in by rename. Compacted leaves are not read.
        A pending delta is folded first, so the compacted base holds
        every commit.
        """
        self._fold("compact")
        frag = {rel: files for rel, files in _leaf_files(self.path)
                if len(files) > 1}
        if not frag:
            return {}
        cols = self._partition_cols()
        staged = staged_path(self.path, "compact", "rewrite")
        schema = self._schema().add(BUCKET_COL, T.IntegerType())
        (self.spark.read.schema(schema).option("basePath", self.path)
         .parquet(*[os.path.join(self.path, rel) for rel in sorted(frag)])
         .repartition(*cols)
         .write.mode("overwrite").partitionBy(*cols).parquet(staged))
        new = dict(_leaf_files(staged))
        self._publish(staged, set(new), set(frag))
        return {rel: (len(files), len(new.get(rel, ())))
                for rel, files in sorted(frag.items())}


class TwoLevelMirror(BucketedMirror):
    """Date × bucket mirror: outer ``date_col`` partition (retention /
    time-pruned reads / batch-date pruning), inner key-hash bucket
    (partition-scoped merge). The promised two-level layout of the
    module docstring.

    Placement contract: ``date_col`` is IMMUTABLE per key — it is part
    of the row's physical address, exactly like Iceberg's partition
    spec over a source column. CDC rows must carry it (delete
    envelopes take it from the before-image), and apply prunes on BOTH
    levels: only (batch dates) × (touched buckets) partitions are
    scanned and rewritten.
    """

    def __init__(self, spark: SparkSession, path: str, keys: list[str],
                 date_col: str, n_buckets: int | None = None,
                 order_cols: list[str] = ("ts_ms", "off")):
        super().__init__(spark, path, keys, n_buckets, order_cols)
        self.date_col = date_col

    def _partition_cols(self) -> list[str]:
        return [self.date_col, BUCKET_COL]

    def _partition_key(self, n: int):
        return F.struct(F.col(self.date_col), bucket_expr(self.keys, n))

    def _partition_rows(self, df: DataFrame, n: int) -> dict:
        """Rows of ``df`` per (date, bucket) pair under ``n`` buckets —
        bounded by |batch dates| × n, a driver-safe collect."""
        rows = (df.groupBy(F.col(self.date_col),
                           bucket_expr(self.keys, n).alias(BUCKET_COL))
                .count().collect())
        return {(r[0], r[1]): r[2] for r in rows}

    def _touched_filter(self, touched: list):
        """(batch dates) × (touched buckets): the grid partition
        pruning can express; its untouched pairs rewrite unchanged."""
        return (F.col(self.date_col).isin(sorted({d for d, _ in touched}))
                & F.col(BUCKET_COL).isin(sorted({b for _, b in touched})))
