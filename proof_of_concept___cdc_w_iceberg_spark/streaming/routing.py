"""Routed multi-table streaming CDC — the reference's full topology.

One stream carries every table's change events (the sink subscribes
``topics.regex: cdc.commerce.*``, `connect-iceberg-sink.json:9`);
each record's ``_cdc.target`` — computed ``cdc.{schema}_{table}`` —
routes it to its own mirror table (`connect-iceberg-sink.json:12-14`),
auto-creating on first sight (`:15`).

Spark shape: a single ``foreachBatch`` tags each record with its
target (``record_target``, i.e. ``cdc_target`` of its source struct),
collects the distinct targets and commits each declared target's slice
(one filter over the persisted batch; targets are few) through the
single-table commit step (``CdcStreamSink._commit_target``). Every
record the sink cannot commit goes to one dead-letter write per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.bucketed import BucketedMirror
from ..cdc.envelope import ROW_SCHEMA, is_malformed, record_target
from .pipeline import CdcStreamSink

TARGET_COL = "__target"


class RoutedStreamingCdcPipeline(CdcStreamSink):
    """File-source stream of mixed-table envelopes → N parquet mirrors.

    ``keys_by_target`` declares the id-columns per routed table (the
    sink's ``iceberg.tables.*.id-columns``); ``row_schema_by_target``
    the per-table row shape (the sink's per-table declared schemas,
    `connect-iceberg-sink.json:30-33`), defaulting to the canonical
    fixture row. Each target's declared keys must be columns of its
    row schema — asserted at construction. A declared target's mirror
    is auto-created, empty with its row schema, at its first batch
    (auto-create-enabled parity); one already laid out in the workdir
    by an earlier run is opened as it is. Records of undeclared
    targets, unparseable records and malformed envelopes are dead
    letters (``dead_letters()``).
    """

    def __init__(self, spark: SparkSession, keys_by_target: dict[str, list[str]],
                 workdir: str | None = None,
                 row_schema_by_target: dict[str, T.StructType] | None = None,
                 n_buckets: int = 8):
        super().__init__(spark, workdir, trigger_seconds=10)
        self.keys_by_target = keys_by_target
        self.n_buckets = n_buckets
        self.row_schema_by_target = {
            t: (row_schema_by_target or {}).get(t, ROW_SCHEMA)
            for t in keys_by_target}
        for target, keys in keys_by_target.items():
            row = self.row_schema_by_target[target]
            missing = set(keys) - {f.name for f in row.fields}
            if missing:
                raise ValueError(
                    f"target {target!r}: declared id-columns {sorted(missing)} "
                    f"not in its row schema {[f.name for f in row.fields]}"
                )
        self.mirrors: dict[str, BucketedMirror] = {}

    def _open(self, target: str) -> BucketedMirror:
        """The mirror of a declared target (laid out or not)."""
        if target not in self.mirrors:
            self.mirrors[target] = BucketedMirror(
                self.spark, os.path.join(self.workdir, target.replace(".", "_")),
                keys=self.keys_by_target[target], n_buckets=self.n_buckets)
        return self.mirrors[target]

    def _commit(self, batch_df: DataFrame, batch_id: int) -> None:
        # Route on the records' source struct (schema-independent),
        # THEN decode each target's slice with its own typed envelope
        # schema — targets may have entirely different row shapes.
        tagged = batch_df.withColumn(TARGET_COL, record_target()).persist()
        try:
            targets = [r[0] for r in
                       tagged.select(TARGET_COL).distinct().collect()]
            # An unparseable record (NULL target) or an undeclared
            # target's is a dead letter; so is a malformed envelope of
            # a declared target, under that target's row schema.
            is_dead, n_dead = F.lit(True), 0
            for target in targets:
                if target not in self.keys_by_target:
                    n_dead += 1
                    continue
                row = self.row_schema_by_target[target]
                mirror = self._open(target)
                if mirror._sidecar() is None:  # auto-create
                    mirror.init(self.spark.createDataFrame([], row))
                routed = F.col(TARGET_COL) == target
                n_dead += self._commit_target(
                    mirror, tagged.filter(routed), row, batch_id)
                is_dead = F.when(routed, is_malformed(row)).otherwise(is_dead)
            if n_dead:
                self._dead_letter(tagged.filter(is_dead), batch_id)
        finally:
            tagged.unpersist()

    def mirror(self, target: str) -> DataFrame:
        """A declared target's mirror; before its first record, an
        empty frame of its row schema."""
        mirror = self._open(target)
        if mirror._sidecar() is None:
            return self.spark.createDataFrame(
                [], self.row_schema_by_target[target])
        return mirror.read()
