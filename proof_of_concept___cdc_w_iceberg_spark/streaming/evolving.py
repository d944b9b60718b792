"""Schema-evolving CDC apply — the reference sink's evolve loop
(`connect-iceberg-sink.json:15-16`) driven by the per-record schemas of
the JSON-with-schema transport (the schema-history-topic semantics,
`connect-sqlserver-source.json:16-17`), committed to a
``BucketedMirror``.

Flow per batch:
1. collect the distinct non-NULL ``schema`` halves of the batch's
   records and union them into one row schema (``union_row_schema``),
2. widen the mirror: the columns it lacks are appended, nullable, to
   its sidecar schema (``BucketedMirror.add_columns``, what Iceberg ADD
   COLUMNS does). Metadata only: base and delta files written before
   read NULL for them,
3. parse the ``payload`` halves with the batch's row schema, drop the
   malformed records (a NULL ``op``, which would otherwise commit as a
   delete of its key) and flatten the rest (``parse_envelopes`` +
   ``envelope_changes``, cdc/envelope.py),
4. align the changes with the mirror schema (``align_to``: a column
   the batch's records lack writes NULL) and commit them with
   ``mirror.apply``: one O(batch + delta) delta commit, folded when due
   like any other.

No pipeline restart on DDL — exactly the reference's behavior.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.bucketed import BucketedMirror
from ..cdc.envelope import CONNECT_TYPES, ENV_COL, envelope_changes, parse_envelopes
from ..cdc.evolve import align_to, evolved_schema

_SPARK_TYPES = {c: t for t, c in CONNECT_TYPES.items()}


def row_schema_from_connect(schema_json: str) -> T.StructType:
    """Connect schema JSON -> Spark row StructType."""
    spec = json.loads(schema_json)
    return T.StructType(
        [
            T.StructField(f["field"], _SPARK_TYPES.get(f["type"], T.StringType()),
                          bool(f.get("optional", True)))
            for f in spec["fields"]
        ]
    )


def union_row_schema(schema_jsons: list[str]) -> T.StructType:
    """Union of several per-record schemas (field order = first seen)."""
    out = T.StructType([])
    for sj in schema_jsons:
        out = evolved_schema(out, row_schema_from_connect(sj))
    return out


def apply_evolving(mirror: BucketedMirror, batch: DataFrame) -> list:
    """Commit one JSON-with-schema batch to ``mirror``, widening it
    first (module docstring: the flow). Returns ``mirror.apply``'s
    touched partitions; ``[]`` for an empty batch. With Iceberg this is
    ALTER TABLE ADD COLUMNS + MERGE INTO (cdc/iceberg.py).

    The distinct-schema collect is tiny (one row per DDL version seen
    in the batch — in steady state, one)."""
    schemas = [r[0] for r in batch.select(
        F.get_json_object(F.col("value"), "$.schema").alias("s"))
        .filter(F.col("s").isNotNull()).distinct().collect()]
    if not schemas:
        return []
    row = union_row_schema(schemas)
    schema = mirror.add_columns(row)
    payloads = batch.withColumn(
        "value", F.get_json_object(F.col("value"), "$.payload"))
    parsed = parse_envelopes(payloads, row).filter(F.col(f"{ENV_COL}.op").isNotNull())
    changes = envelope_changes(parsed, mirror.keys, row)
    return mirror.apply(align_to(changes, T.StructType(
        [*schema.fields, *(changes.schema[c] for c in ("op", "ts_ms", "off"))])))
