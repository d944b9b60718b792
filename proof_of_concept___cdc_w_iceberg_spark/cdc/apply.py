"""CDC apply: latest-wins compaction + MERGE-fallback upsert.

Reference semantics being reproduced (SURVEY.md §2.10):
- upsert by id-columns into the lake table
  (`connect-iceberg-sink.json:30-33`),
- per-key ordering the reference gets from a single sink task +
  Debezium LSN order (`connect-iceberg-sink.json:5`) — here made
  explicit with a (ts_ms, off) window compaction, which is what makes
  the apply safe to parallelize across many executors,
- delete handling (op='d' removes the row).

Scale notes: compaction is one shuffle on the merge keys; the apply
join shuffles target+compacted-batch on the same keys. On a real
cluster the target table would be bucketed by key so the per-batch
merge co-locates; change batches are tiny relative to the mirror, so
AQE turns the batch side into a broadcast. No Python in the path —
everything is Catalyst-planned DataFrame ops.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_latest(changes: DataFrame, keys: list[str],
                   order_cols: list[str] = ("ts_ms", "off")) -> DataFrame:
    """Latest change per key: row_number over (ts desc, offset desc) = 1.

    The core CDC compaction primitive (SURVEY.md §2.5 q_win_rownumber):
    within any batch, only the newest event per key may be applied.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE fallback as a pure DataFrame rewrite (no Iceberg runtime):
    full-outer join on keys; matched rows take the source image,
    unmatched keep their side. Source NULLs are honored (presence flag,
    not per-column coalesce)."""
    data_cols = [c for c in target.columns if c not in keys]
    s = source.withColumn("__present", F.lit(True)).alias("s")
    t = target.alias("t")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
    )
    joined = t.join(s, cond, "full_outer")
    out_cols = [
        F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k) for k in keys
    ] + [
        F.when(F.col("s.__present"), F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in data_cols
    ]
    return joined.select(*out_cols)


def apply_changes(target: DataFrame, changes: DataFrame, keys: list[str],
                  op_col: str = "op",
                  order_cols: list[str] = ("ts_ms", "off")) -> DataFrame:
    """Full CDC apply: compact to latest-per-key, then
    upsert/insert/delete into the target in one pass.

    Equivalent to Iceberg ``MERGE INTO .. WHEN MATCHED AND op='d' THEN
    DELETE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``
    (the sink's upsert mode, `connect-iceberg-sink.json:30-33`).
    Implemented as: drop every touched key from the target (anti join),
    then append the surviving latest images.
    """
    return upsert_compacted(target, compact_latest(changes, keys, order_cols),
                            keys, op_col=op_col)


def upsert_compacted(target: DataFrame, latest: DataFrame, keys: list[str],
                     op_col: str = "op",
                     routed: DataFrame | None = None,
                     key_rows: DataFrame | None = None) -> DataFrame:
    """The merge half of ``apply_changes`` over an ALREADY-compacted
    (one row per key) batch. Mirror apply paths that persist the
    compacted batch up front (versioned/bucketed/specs) call this
    directly so the batch's window shuffle runs once, not re-planned
    inside every merge (the old shape passed the compacted batch back
    through ``apply_changes``, which re-ran ``compact_latest`` on it —
    an identity, but a second batch-sized Exchange+Sort per commit).

    ``routed``: an optional re-layout of the SAME batch rows (e.g.
    repartitioned by bucket for the staged write). Only the appended
    upsert images are drawn from it; the anti-join's broadcast side
    stays on ``latest`` so building the broadcast never executes the
    routing exchange. With ``routed`` the anti-join's batch side is
    broadcast EXPLICITLY (r21, ADVICE item): the staged-write callers'
    "survivors never shuffle" invariant relied on AQE size estimation,
    and a batch above the broadcast threshold would silently degrade
    to a sort-merge join — shuffling the full survivor leg and making
    the ``routed`` re-layout redundant. Those callers persist the
    compacted batch up front (cdc/versioned.py ``_prepare_batch``), so
    the broadcast is of a bounded, already-materialized relation.
    Without ``routed`` (the generic ``apply_changes`` path, where no
    caller has bounded the batch) the planner keeps the choice.

    ``key_rows``: a relation holding the batch's keys, repeats allowed
    (e.g. the raw batch ``latest`` was compacted from, which has the
    same key set). The anti-join reads its keys instead of ``latest``'s,
    so an un-persisted compaction's window shuffle is planned once, for
    the upserts, not a second time for the anti-join."""
    touched = (latest if key_rows is None else key_rows).select(
        *[F.col(k).alias(f"__t_{k}") for k in keys])
    if routed is not None:
        touched = F.broadcast(touched)
    # Null-safe anti join (still a hash equi-join): a plain-equality
    # anti join can never drop a NULL-keyed row, which would break the
    # diff/apply round-trip law for NULL keys.
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"__t_{k}")) for k in keys],
    )
    survivors = target.join(touched, cond, "left_anti")
    src = latest if routed is None else routed
    upserts = src.filter(F.col(op_col) != "d").select(*target.columns)
    return survivors.unionByName(upserts)


def mirror_diff(mirror: DataFrame, expected: DataFrame) -> DataFrame:
    """Two-sided multiset diff — empty iff mirror == expected.

    The reference verifies its mirror by manual re-query
    (`test_cdc.py:75-92`); this is the assertive version.
    """
    return mirror.exceptAll(expected).unionByName(expected.exceptAll(mirror))


def evolve_schema(target: DataFrame, changes: DataFrame) -> DataFrame:
    """Widen ``target`` with any data column ``changes`` carries that
    the target lacks (typed NULLs for existing rows) — the parquet
    fallback for Iceberg sink schema evolution, where a drifted source
    payload adds columns and the sink table follows
    (`connect-iceberg-sink.json:15-16` upsert mode with evolving
    Debezium payloads). Column ORDER follows the target (new columns
    append), matching Iceberg's add-column-at-end semantics; dropped
    source columns are NOT removed (Iceberg keeps them, readers see
    NULL)."""
    have = set(target.columns)
    out = target
    for f in changes.schema.fields:
        if f.name not in have:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


# NOTE: the keyed snapshot diff lives in cdc/diff.py (table_changes) —
# one definition, null-safe keys, property-tested round-trip law; pass
# images="both" for the Delta-CDF before/after shape.
