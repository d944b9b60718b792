"""Routed multi-table streaming CDC — the reference's full topology.

One stream carries every table's change events (the sink subscribes
``topics.regex: cdc.commerce.*``, `connect-iceberg-sink.json:9`);
each record's ``_cdc.target`` — computed ``cdc.{schema}_{table}`` —
routes it to its own mirror table (`connect-iceberg-sink.json:12-14`),
auto-creating on first sight (`:15`).

Spark shape: a single ``foreachBatch`` partitions the decoded batch by
target and runs the compact+merge per table. At scale the per-target
split is one filter each over a cached batch (targets are few), or a
single ``partitionBy(target)`` append for the audit-log variant.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.bucketed import BucketedMirror
from ..cdc.envelope import ROW_SCHEMA
from .pipeline import envelope_changes, parse_envelopes


class RoutedStreamingCdcPipeline:
    """File-source stream of mixed-table envelopes → N parquet mirrors.

    ``keys_by_target`` declares the id-columns per routed table (the
    sink's ``iceberg.tables.*.id-columns``); ``row_schema_by_target``
    the per-table row shape (the sink's per-table declared schemas,
    `connect-iceberg-sink.json:30-33`), defaulting to the canonical
    fixture row. Unseen targets are auto-created from their first
    batch (auto-create-enabled parity). Each target's declared keys
    must be columns of its row schema — asserted at construction.
    """

    def __init__(self, spark: SparkSession, keys_by_target: dict[str, list[str]],
                 workdir: str | None = None,
                 row_schema_by_target: dict[str, T.StructType] | None = None,
                 n_buckets: int = 8):
        self.spark = spark
        self.keys_by_target = keys_by_target
        self.n_buckets = n_buckets
        self.row_schema_by_target = row_schema_by_target or {}
        for target, keys in keys_by_target.items():
            row = self.row_schema_by_target.get(target, ROW_SCHEMA)
            missing = set(keys) - {f.name for f in row.fields}
            if missing:
                raise ValueError(
                    f"target {target!r}: declared id-columns {sorted(missing)} "
                    f"not in its row schema {[f.name for f in row.fields]}"
                )
        self.workdir = workdir or tempfile.mkdtemp(prefix="routed_cdc_")
        self.input_dir = os.path.join(self.workdir, "input")
        self.checkpoint = os.path.join(self.workdir, "checkpoint")
        os.makedirs(self.input_dir, exist_ok=True)
        self.mirrors: dict[str, BucketedMirror] = {}

    def mirror_path(self, target: str) -> str:
        return os.path.join(self.workdir, target.replace(".", "_"))

    def feed(self, enveloped: DataFrame, name: str) -> None:
        rows = [r.asDict() for r in enveloped.collect()]
        path = os.path.join(self.input_dir, f"{name}.json")
        with open(path + ".tmp", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(path + ".tmp", path)

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Route on the raw JSON (schema-independent), THEN decode each
        # target's slice with its own typed envelope schema — targets
        # may have entirely different row shapes.
        target_col = F.concat(
            F.lit("cdc."),
            F.get_json_object(F.col("value"), "$.source.schema"),
            F.lit("_"),
            F.get_json_object(F.col("value"), "$.source.table"),
        )
        tagged = batch_df.withColumn("__target", target_col).persist()
        try:
            targets = [r[0] for r in
                       tagged.select("__target").distinct().collect()]
            for target in targets:
                keys = self.keys_by_target.get(target)
                if keys is None:
                    continue  # unrouted topic: reference would fail-fast
                row = self.row_schema_by_target.get(target, ROW_SCHEMA)
                # Replayed (key, offset) deliveries collapse in the
                # mirror's latest-wins compaction (see
                # StreamingCdcPipeline._apply_batch).
                changes = envelope_changes(
                    parse_envelopes(tagged.filter(F.col("__target") == target),
                                    row),
                    keys, row)
                if target not in self.mirrors:
                    # auto-create: first batch's upserts become the table
                    m = BucketedMirror(self.spark, self.mirror_path(target),
                                       keys=keys, n_buckets=self.n_buckets)
                    m.init(changes.drop("op", "ts_ms", "off").limit(0))
                    self.mirrors[target] = m
                self.mirrors[target].apply(changes, tag=f"b{batch_id}")
        finally:
            tagged.unpersist()

    def start(self):
        stream = (
            self.spark.readStream.schema("key LONG, value STRING")
            .option("maxFilesPerTrigger", 1)
            .json(self.input_dir)
        )
        return (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def mirror(self, target: str) -> DataFrame:
        if target in self.mirrors:
            return self.mirrors[target].read()
        keys = self.keys_by_target.get(target, ["k"])
        return BucketedMirror(self.spark, self.mirror_path(target),
                              keys=keys, n_buckets=self.n_buckets).read()
