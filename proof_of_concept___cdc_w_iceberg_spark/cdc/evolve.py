"""Schema evolution for the parquet lake (SURVEY.md §2.1 q_schema_evolve).

The reference auto-evolves sink tables when new source columns appear
(`connect-iceberg-sink.json:16` + the schema-history topic,
`connect-sqlserver-source.json:16-17`). Spark-native equivalent:
diff the incoming batch schema against the table schema
(``schema_diff``), append the new columns nullable (``evolved_schema``)
and project each side onto the result (``align_to``, new columns as
typed NULLs). A ``BucketedMirror`` records the evolved schema in its
sidecar (``add_columns``), which every scan of its files reads with.
With an Iceberg catalog this would be ``ALTER TABLE ... ADD COLUMNS``
instead — same driver-side diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def schema_diff(table: T.StructType, batch: T.StructType) -> list[T.StructField]:
    """Fields present in the batch but not in the table (to be added)."""
    existing = {f.name.lower() for f in table.fields}
    return [f for f in batch.fields if f.name.lower() not in existing]


def align_to(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto ``schema``, adding missing columns as typed NULLs."""
    have = {c.lower() for c in df.columns}
    cols = [
        F.col(f.name) if f.name.lower() in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


def evolved_schema(table: T.StructType, batch: T.StructType) -> T.StructType:
    """``table`` with the fields of ``batch`` it lacks appended,
    nullable — Iceberg ADD COLUMNS: rows written before read NULL."""
    return T.StructType(list(table.fields) + [
        T.StructField(f.name, f.dataType, True) for f in schema_diff(table, batch)])


def evolve_and_union(table_df: DataFrame, batch_df: DataFrame) -> DataFrame:
    """Union table + batch under the evolved schema (old rows get NULLs
    for new columns) — the read-side view after evolution."""
    target = evolved_schema(table_df.schema, batch_df.schema)
    return align_to(table_df, target).unionByName(align_to(batch_df, target))
