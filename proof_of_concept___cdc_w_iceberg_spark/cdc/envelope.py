"""Debezium change-event envelope: the one encoder and decoder.

The reference transports JSON-with-schema Debezium envelopes
(`kafka/config/connect-standalone.properties:2-5`; envelope produced
by the connector at `connect-sqlserver-source.json:4`):
``{before, after, source{db,schema,table,lsn,ts_ms,snapshot}, op, ts_ms}``.
The sink's DebeziumTransform flattens them and adds a ``_cdc`` struct
with routing target ``cdc.{schema}_{table}``
(`connect-iceberg-sink.json:10-13`).

Spark-first mapping: the envelope is a nested ``StructType``. Every
consumer (both stream sinks, the schema-evolving apply, the batch
``decode_envelope`` and the CDC queries) parses a record's ``value``
once with ``parse_envelopes`` (PERMISSIVE ``from_json``: a malformed
record parses to a NULL ``op``, which ``is_malformed`` tests on a raw
record) and flattens it with ``envelope_changes``; ``cdc_target`` is
the one routing-target formula. A JSON-with-schema record goes through
the same parse: the caller passes its ``$.payload`` half as ``value``.
All of it is JVM-side and codegen'd, with no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def row_schema(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


SOURCE_SCHEMA = row_schema([
    ("db", T.StringType()), ("schema", T.StringType()), ("table", T.StringType()),
    ("lsn", T.LongType()), ("ts_ms", T.LongType()), ("snapshot", T.StringType()),
])
# The parsed envelope struct column ``parse_envelopes`` adds.
ENV_COL = "__env"


def envelope_schema(row: T.StructType) -> T.StructType:
    """Envelope for a given row schema (before/after images + source)."""
    return T.StructType(
        [
            T.StructField("before", row, True),
            T.StructField("after", row, True),
            T.StructField("source", SOURCE_SCHEMA, True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )


# Envelope for the canonical changelog fixture row (k, name, bal).
ROW_SCHEMA = row_schema(
    [("k", T.LongType()), ("name", T.StringType()), ("bal", T.DoubleType())]
)
ENVELOPE_SCHEMA = envelope_schema(ROW_SCHEMA)


def encode_envelope(df: DataFrame, schema_name: str = "commerce",
                    table: str = "account") -> DataFrame:
    """Wrap a flat changelog (k,name,bal,op,ts_ms,off) into JSON envelopes
    — the shape the reference's source connector emits to Kafka."""
    after = F.when(
        F.col("op") != "d",
        F.struct(F.col("k"), F.col("name"), F.col("bal")),
    )
    before = F.when(
        F.col("op").isin("u", "d"),
        F.struct(F.col("k"), F.lit(None).cast("string").alias("name"),
                 F.lit(None).cast("double").alias("bal")),
    )
    source = F.struct(
        F.lit("commerce_db").alias("db"),
        F.lit(schema_name).alias("schema"),
        F.lit(table).alias("table"),
        F.col("off").alias("lsn"),
        F.col("ts_ms").alias("ts_ms"),
        F.when(F.col("op") == "r", F.lit("true")).otherwise(F.lit("false")).alias("snapshot"),
    )
    env = F.struct(before.alias("before"), after.alias("after"),
                   source.alias("source"), F.col("op"), F.col("ts_ms"))
    return df.select(F.col("k").alias("key"), F.to_json(env).alias("value"))


class MalformedEnvelopeError(ValueError):
    """Raised by strict decode when a record fails to parse — the
    reference's ``errors.tolerance: none`` fail-fast contract
    (`connect-sqlserver-source.json:19`, `connect-iceberg-sink.json:7`)."""


def parse_envelopes(df: DataFrame, row: T.StructType = ROW_SCHEMA) -> DataFrame:
    """``df`` plus its ``value`` envelope JSON parsed ONCE with ``row``
    as the before/after image into ``ENV_COL`` (PERMISSIVE
    ``from_json``: a malformed record parses to a NULL ``op``)."""
    return df.withColumn(ENV_COL, F.from_json(F.col("value"), envelope_schema(row)))


def is_malformed(row: T.StructType = ROW_SCHEMA) -> Column:
    """True for a raw record whose envelope, parsed with ``row`` as
    ``parse_envelopes`` parses it, has a NULL ``op``."""
    return F.from_json(F.col("value"), envelope_schema(row)).getField("op").isNull()


def envelope_changes(parsed: DataFrame, keys: list[str],
                     row: T.StructType = ROW_SCHEMA) -> DataFrame:
    """Flat change rows from ``parse_envelopes`` output: each key from
    the after-image (the before-image for deletes), the other row
    columns from the after-image, then ``op``, ``ts_ms``, the source
    LSN as ``off`` and the routing target as ``_cdc_target`` — the
    sink's DebeziumTransform flatten (`connect-iceberg-sink.json:10-12`)."""
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
        cdc_target(env.getField("source")).alias("_cdc_target"),
    )


def decode_envelope(df: DataFrame, strict: bool = False) -> DataFrame:
    """Batch decode of canonical fixture envelopes (``ROW_SCHEMA``, key
    ``k``): ``envelope_changes`` over ``parse_envelopes``.

    ``strict=True`` reproduces ``errors.tolerance: none``: any record
    that doesn't parse (op comes back NULL) aborts the batch instead of
    flowing through as nulls. One extra pass over the batch — use
    inside foreachBatch where the batch is already small/cached."""
    parsed = parse_envelopes(df)
    if strict:
        bad = (parsed.filter(F.col(ENV_COL).getField("op").isNull())
               .select("value").limit(1).collect())
        if bad:
            raw = bad[0][0]  # may be NULL (op parses NULL too)
            raise MalformedEnvelopeError(
                f"unparseable change event (errors.tolerance=none): "
                f"{raw[:200] if raw is not None else None!r}"
            )
    return envelope_changes(parsed, ["k"])


def cdc_target(source: Column) -> Column:
    """Routing target ``cdc.{schema}_{table}`` (`connect-iceberg-sink.json:12`)."""
    return F.concat(
        F.lit("cdc."), source.getField("schema"), F.lit("_"), source.getField("table")
    )


def record_target() -> Column:
    """``cdc_target`` of a raw record, parsed from its ``value``'s
    source struct alone, so it does not depend on the record's row
    shape; NULL for a record that does not parse."""
    source = T.StructType([T.StructField("source", SOURCE_SCHEMA, True)])
    return cdc_target(F.from_json(F.col("value"), source).getField("source"))


# --- JSON-with-schema transport (connect-standalone.properties:2-5) ---
#
# With schemas.enable=true every Kafka record is
# ``{"schema": <connect type>, "payload": <envelope>}`` — a dynamic,
# self-describing schema PER RECORD. The schema half is what feeds the
# sink's evolve-schema behavior (streaming/evolving.py).

# Spark type -> Kafka Connect schema type; streaming/evolving.py reads
# it the other way round.
CONNECT_TYPES = {
    T.LongType(): "int64",
    T.IntegerType(): "int32",
    T.DoubleType(): "float64",
    T.FloatType(): "float32",
    T.StringType(): "string",
    T.BooleanType(): "boolean",
    T.BinaryType(): "bytes",
}


def connect_schema_json(row: T.StructType, name: str = "Value") -> str:
    """Kafka Connect schema JSON for a flat row struct (the ``schema``
    half of a JSON-with-schema record)."""
    import json

    fields = [
        {
            "type": CONNECT_TYPES.get(f.dataType, "string"),
            "optional": f.nullable,
            "field": f.name,
        }
        for f in row.fields
    ]
    return json.dumps(
        {"type": "struct", "fields": fields, "optional": False, "name": name},
        separators=(",", ":"),
    )


def encode_envelope_with_schema(df: DataFrame, row: T.StructType = ROW_SCHEMA,
                                schema_name: str = "commerce",
                                table: str = "account") -> DataFrame:
    """Full-fidelity transport encoding: each record carries its own
    schema alongside the payload, exactly as the reference's JSON
    converters emit."""
    enveloped = encode_envelope(df, schema_name=schema_name, table=table)
    schema_lit = connect_schema_json(row, name=f"{schema_name}.{table}.Value")
    return enveloped.select(
        "key",
        F.concat(
            F.lit('{"schema":'), F.lit(schema_lit),
            F.lit(',"payload":'), F.col("value"), F.lit("}"),
        ).alias("value"),
    )
