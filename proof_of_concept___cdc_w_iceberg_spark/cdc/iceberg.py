"""Iceberg integration gate (SURVEY.md §7.2 step 5).

The reference's lake is Iceberg (Hive metastore + S3,
`connect-iceberg-sink.json:19-29`) with PK upsert via the sink's
equality-delete path (`connect-iceberg-sink.json:30-33`). On Spark
the native equivalent is the Iceberg Spark runtime's ``MERGE INTO``
and ``ALTER TABLE ADD COLUMNS``. That runtime is an optional jar, so
every call sites through this gate:

- Iceberg available  → real SQL ``MERGE INTO`` against a catalog table
  (copy-on-write/merge-on-read picked by table properties), atomic
  snapshot commits, time travel for free.
- Iceberg absent     → the pure-DataFrame fallback (`apply.py`):
  full-outer-join MERGE rewrite + staged parquet swap. Identical
  row-level semantics, verified by the same oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .apply import apply_changes, compact_latest


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark extensions can plan a MERGE (the
    runtime jar + a configured catalog)."""
    try:
        # force real classloading — bare py4j attribute access returns a
        # lazy JavaPackage even for classes that don't exist
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
    except Exception:
        return False
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "IcebergSparkSessionExtensions" in ext


def merge_sql(target_table: str, source_cols: list[str], keys: list[str],
              op_col: str = "op",
              order_cols: list[str] = ("ts_ms", "off"),
              source_view: str = "__cdc_merge_src") -> str:
    """Render the CDC MERGE statement (factored out so the Iceberg SQL
    path stays unit-testable in environments without the runtime jar)."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    data_cols = [c for c in source_cols
                 if c not in (*keys, op_col, *order_cols)]
    set_clause = ", ".join(f"t.{c} = s.{c}" for c in data_cols)
    insert_cols = ", ".join([*keys, *data_cols])
    insert_vals = ", ".join(f"s.{c}" for c in [*keys, *data_cols])
    return f"""
        MERGE INTO {target_table} t
        USING (SELECT * FROM {source_view}) s
        ON {on}
        WHEN MATCHED AND s.{op_col} = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET {set_clause}
        WHEN NOT MATCHED AND s.{op_col} <> 'd'
            THEN INSERT ({insert_cols}) VALUES ({insert_vals})
    """


def merge_into(spark: SparkSession, target_table: str, source: DataFrame,
               keys: list[str], op_col: str = "op",
               order_cols: list[str] = ("ts_ms", "off")) -> None:
    """CDC MERGE: latest-wins compacted ``source`` into ``target_table``.

    Iceberg path: one SQL MERGE with delete/update/insert arms —
    exactly the sink's upsert mode. Fallback path: DataFrame rewrite +
    overwrite of the same catalog table.
    """
    if iceberg_available(spark):
        # MERGE requires at most one source row per target row: a batch
        # carrying several events for one key would make the ON clause
        # multi-match and Iceberg/Spark reject the merge at runtime.
        # The fallback path compacts inside apply_changes; compact here
        # too so both gated paths share latest-wins semantics.
        compact_latest(source, keys, list(order_cols)) \
            .createOrReplaceTempView("__cdc_merge_src")
        spark.sql(merge_sql(target_table, source.columns, keys,
                            op_col=op_col, order_cols=order_cols))
        return
    target = spark.table(target_table)
    merged = apply_changes(target, source, keys, op_col=op_col,
                           order_cols=list(order_cols))
    # Stage through a table to break the self-dependency before
    # overwriting the source-of-truth table.
    merged.write.mode("overwrite").saveAsTable(f"{target_table}__staged")
    spark.table(f"{target_table}__staged").write.mode("overwrite") \
        .saveAsTable(target_table)
    spark.sql(f"DROP TABLE IF EXISTS {target_table}__staged")
