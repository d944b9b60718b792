"""Structured Streaming CDC pipeline (SURVEY.md §3.2 made Spark-native).

Reference dataflow: Debezium envelopes on Kafka → Iceberg sink task
with a 10 s commit cadence and offset tracking
(`connect-iceberg-sink.json:17-18`, `connect-standalone.properties:13-14`).

Spark mapping:
- transport: ``readStream`` file source over envelope JSON (hermetic in
  CI; swap ``format("kafka")`` + ``subscribePattern`` for the real
  broker — the downstream plan is identical),
- decode: ``from_json`` envelope schema (cdc/envelope.py),
- apply: ``foreachBatch`` → latest-wins compaction + MERGE fallback
  (cdc/apply.py), i.e. streaming upsert with exactly-once table state
  (checkpoint dir ↔ the reference's offsets file),
- cadence: ``trigger(processingTime="10 seconds")`` ↔ commit.interval-ms.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.bucketed import BucketedMirror
from ..cdc.envelope import ROW_SCHEMA, envelope_schema

# The parsed envelope struct column ``parse_envelopes`` adds.
ENV_COL = "__env"
# Dead-letter rows: the raw stream record and the micro-batch it came in.
DLQ_SCHEMA = "key LONG, value STRING, batch_id LONG"


def parse_envelopes(batch_df: DataFrame,
                    row: T.StructType = ROW_SCHEMA) -> DataFrame:
    """Raw ``(key, value)`` stream rows plus the envelope parsed ONCE
    into ``ENV_COL`` (PERMISSIVE ``from_json``: a malformed record
    parses to a NULL ``op``)."""
    return batch_df.withColumn(
        ENV_COL, F.from_json(F.col("value"), envelope_schema(row)))


def envelope_changes(parsed: DataFrame, keys: list[str],
                     row: T.StructType = ROW_SCHEMA) -> DataFrame:
    """Flat change rows from ``parse_envelopes`` output: the keys from
    the after-image (the before-image for deletes), the other row
    columns from the after-image, then ``op``, ``ts_ms`` and the source
    LSN as ``off`` — the sink's DebeziumTransform flatten
    (`connect-iceberg-sink.json:10-12`)."""
    env = F.col(ENV_COL)
    return parsed.select(
        *[F.coalesce(env.getField("after").getField(k),
                     env.getField("before").getField(k)).alias(k)
          for k in keys],
        *[env.getField("after").getField(f.name).alias(f.name)
          for f in row.fields if f.name not in keys],
        env.getField("op").alias("op"),
        env.getField("ts_ms").alias("ts_ms"),
        env.getField("source").getField("lsn").alias("off"),
    )


class StreamingCdcPipeline:
    """File-source streaming CDC apply with a bucket-partitioned
    parquet mirror table.

    The mirror is a ``BucketedMirror`` (cdc/bucketed.py): each
    micro-batch rewrites only the key-hash bucket partitions it
    touches, not the whole table — per-batch cost stays O(touched
    buckets), which is what makes a 10 s trigger viable against a
    100 TB mirror without Iceberg. ``n_buckets=None`` sizes the bucket
    count to the snapshot at ``init_mirror`` (one scan split per
    bucket), so a small mirror is one file per commit.
    """

    def __init__(self, spark: SparkSession, workdir: str | None = None,
                 trigger_seconds: int = 10, n_buckets: int | None = None):
        self.spark = spark
        self.workdir = workdir or tempfile.mkdtemp(prefix="stream_cdc_")
        self.input_dir = os.path.join(self.workdir, "input")
        self.mirror_path = os.path.join(self.workdir, "mirror")
        self.checkpoint = os.path.join(self.workdir, "checkpoint")
        self.trigger_seconds = trigger_seconds
        os.makedirs(self.input_dir, exist_ok=True)
        self.dlq_path = os.path.join(self.workdir, "dlq")
        self.batches_applied = 0
        self._mirror = BucketedMirror(spark, self.mirror_path, keys=["k"],
                                      n_buckets=n_buckets)

    def feed(self, enveloped: DataFrame, name: str) -> None:
        """Drop a file of envelope JSON into the stream input (stands in
        for a Kafka topic produce)."""
        rows = [r.asDict() for r in enveloped.collect()]
        path = os.path.join(self.input_dir, f"{name}.json")
        with open(path + ".tmp", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(path + ".tmp", path)

    def init_mirror(self, snapshot: DataFrame) -> None:
        self._mirror.init(snapshot)

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch: decode → DLQ-split → compact → partition-scoped
        merge (only touched buckets rewritten).

        Malformed envelopes (mandatory ``op`` null after PERMISSIVE
        from_json) are written raw to the dead-letter table instead of
        flowing into the merge as null-key rows — the streaming twin of
        q_cdc_dead_letter (Kafka Connect ``errors.tolerance: all`` +
        DLQ topic). The DLQ write is idempotent like the mirror path:
        partitioned by batch_id with dynamic partition overwrite, so a
        micro-batch replayed after failure/restart replaces its own
        DLQ partition rather than appending duplicate dead letters
        (foreachBatch is at-least-once).

        Idempotent apply (`q_stream_dedup`): duplicate (key, offset)
        deliveries are the same event, so the mirror's latest-wins
        compaction (one row per key) collapses them with no separate
        dedup shuffle, mirroring the reference's offset tracking
        (`connect-standalone.properties:13`). An empty batch is a no-op
        inside ``apply``, which returns no touched buckets for it.
        """
        parsed = parse_envelopes(batch_df)
        is_bad = F.col(f"{ENV_COL}.op").isNull()
        bad = parsed.filter(is_bad).select("key", "value")
        if not bad.isEmpty():
            (bad.withColumn("batch_id", F.lit(batch_id).cast("long"))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id")
             .parquet(self.dlq_path))
        changes = envelope_changes(parsed.filter(~is_bad), keys=["k"])
        if self._mirror.apply(changes, tag=f"b{batch_id}"):
            self.batches_applied += 1

    def start(self, trigger_once: bool = True):
        stream = (
            self.spark.readStream.schema("key LONG, value STRING")
            .option("maxFilesPerTrigger", 1)
            .json(self.input_dir)
        )
        writer = stream.writeStream.foreachBatch(self._apply_batch).option(
            "checkpointLocation", self.checkpoint
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        return writer.start()

    def mirror(self) -> DataFrame:
        return self._mirror.read()

    def dead_letters(self) -> DataFrame:
        """Raw records that failed envelope decode (empty if none)."""
        if not os.path.isdir(self.dlq_path):
            return self.spark.createDataFrame([], DLQ_SCHEMA)
        # The declared schema types the batch_id partition column
        # (inference would read INT for small ids) and spares the
        # footer-reading inference job.
        return self.spark.read.schema(DLQ_SCHEMA).parquet(self.dlq_path)


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector is on the classpath."""
    try:
        # py4j attribute access is lazy (returns a JavaPackage even for
        # missing classes) — force real classloading
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_changelog_stream(spark: SparkSession, brokers: str,
                           pattern: str = "cdc.commerce.*"):
    """The real-transport twin of the file-source stream: subscribe to
    every topic matching the reference's regex
    (`connect-iceberg-sink.json:9`) — downstream decode/apply is
    identical. Gated: this container ships no Kafka connector, so the
    hermetic file source is the tested path."""
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on classpath; use "
            "StreamingCdcPipeline's file source or add the "
            "spark-sql-kafka-0-10 package"
        )
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribePattern", pattern)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
    )
