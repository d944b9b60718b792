"""Unit tests for the CDC core: compaction ordering, merge semantics
(incl. NULL images and deletes), schema evolution, mirror verify.
Modeled on the reference's insert-then-reverify flow
(`test_cdc.py:75-92`) but with real assertions.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import (
    apply_changes,
    compact_latest,
    merge_upsert,
    mirror_diff,
)
from proof_of_concept___cdc_w_iceberg_spark.cdc.envelope import (
    decode_envelope,
    encode_envelope,
)
from proof_of_concept___cdc_w_iceberg_spark.cdc.evolve import (
    evolve_and_union,
    schema_diff,
)
from proof_of_concept___cdc_w_iceberg_spark.sources.cdc_fixtures import changelog

COLS = "k long, name string, bal double, op string, ts_ms long, off long"


def test_compact_latest_orders_by_ts_then_offset(spark):
    rows = [
        (1, "a", 1.0, "c", 100, 1),
        (1, "b", 2.0, "u", 200, 2),  # newer ts wins
        (1, "c", 3.0, "u", 200, 3),  # same ts, higher offset wins
        (2, "x", 9.0, "c", 100, 4),
    ]
    df = spark.createDataFrame(rows, COLS)
    got = {r["k"]: r["name"] for r in compact_latest(df, ["k"]).collect()}
    assert got == {1: "c", 2: "x"}


def test_merge_upsert_honors_source_nulls(spark):
    target = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "k long, name string, bal double")
    source = spark.createDataFrame([(2, None, 5.0), (3, "c", 3.0)], "k long, name string, bal double")
    out = {r["k"]: (r["name"], r["bal"]) for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {1: ("a", 1.0), 2: (None, 5.0), 3: ("c", 3.0)}


def test_apply_changes_insert_update_delete(spark):
    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k long, name string, bal double"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 20.0, "u", 100, 1),
            (3, None, None, "d", 100, 2),
            (4, "d", 4.0, "c", 100, 3),
            (4, "d2", 40.0, "u", 200, 4),  # later update same batch
        ],
        COLS,
    )
    out = {r["k"]: (r["name"], r["bal"]) for r in apply_changes(target, changes, ["k"]).collect()}
    assert out == {1: ("a", 1.0), 2: ("b2", 20.0), 4: ("d2", 40.0)}


def test_delete_then_reinsert_wins(spark):
    target = spark.createDataFrame([(1, "a", 1.0)], "k long, name string, bal double")
    changes = spark.createDataFrame(
        [(1, None, None, "d", 100, 1), (1, "re", 9.0, "c", 200, 2)], COLS
    )
    out = apply_changes(target, changes, ["k"]).collect()
    assert len(out) == 1 and out[0]["name"] == "re"


def test_envelope_roundtrip(spark, sf_dir):
    ch = changelog(spark, sf_dir)
    decoded = decode_envelope(encode_envelope(ch))
    back = decoded.select("k", "name", "bal", "op", "ts_ms", "off")
    assert mirror_diff(back, ch).count() == 0


def test_schema_evolution_adds_columns(spark):
    table = spark.createDataFrame([(1, "a")], "k long, name string")
    batch = spark.createDataFrame([(2, "b", "X")], "k long, name string, status string")
    added = schema_diff(table.schema, batch.schema)
    assert [f.name for f in added] == ["status"]
    out = evolve_and_union(table, batch)
    assert out.columns == ["k", "name", "status"]
    rows = {r["k"]: r["status"] for r in out.collect()}
    assert rows == {1: None, 2: "X"}


def test_mirror_verify_catches_drift(spark):
    a = spark.createDataFrame([(1, "a")], "k long, name string")
    b = spark.createDataFrame([(1, "b")], "k long, name string")
    assert mirror_diff(a, a).count() == 0
    assert mirror_diff(a, b).count() == 2


def test_envelope_with_inline_schema_roundtrip(spark, sf_dir):
    """JSON-with-schema transport (connect-standalone.properties:2-5):
    every record carries a valid Connect schema; its ``payload`` half
    decodes through the one envelope decoder, and its ``schema`` half
    is there for drift detection."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.envelope import (
        encode_envelope_with_schema,
    )

    ch = changelog(spark, sf_dir)
    wired = encode_envelope_with_schema(ch)
    decoded = decode_envelope(
        wired.select(F.get_json_object("value", "$.payload").alias("value")))
    back = decoded.select("k", "name", "bal", "op", "ts_ms", "off")
    assert mirror_diff(back, ch).count() == 0
    schemas = {r[0] for r in wired.select(
        F.get_json_object("value", "$.schema")).distinct().collect()}
    assert len(schemas) == 1
    parsed = json.loads(schemas.pop())
    assert parsed["type"] == "struct"
    assert [f["field"] for f in parsed["fields"]] == ["k", "name", "bal"]
    assert {f["type"] for f in parsed["fields"]} == {"int64", "string", "float64"}
    assert decoded.select("_cdc_target").distinct().collect()[0][0] == "cdc.commerce_account"


def test_strict_decode_fails_fast_on_malformed(spark, sf_dir):
    """errors.tolerance=none parity: a malformed record aborts the
    decode instead of flowing through as nulls."""
    import pytest

    from proof_of_concept___cdc_w_iceberg_spark.cdc.envelope import (
        MalformedEnvelopeError,
    )

    good = encode_envelope(changelog(spark, sf_dir).limit(10))
    bad = spark.createDataFrame([(99, "{not json at all")], "key long, value string")
    mixed = good.unionByName(bad)
    # lenient default: nulls flow through
    assert decode_envelope(mixed).count() == 11
    # strict: abort, naming the offending record
    with pytest.raises(MalformedEnvelopeError, match="not json"):
        decode_envelope(mixed, strict=True).count()
    # strict on clean input: no-op
    assert decode_envelope(good, strict=True).count() == 10


def test_compaction_and_staging_cleanup(spark, tmp_path):
    """Table maintenance: ``BucketedMirror.compact()`` rewrites a
    fragmented mirror to one file per bucket, content unchanged, and
    leaves no staged dir; ``cleanup_staging`` removes exactly the stale
    staged dirs ``staged_path`` names for a mirror, and keeps a sibling
    mirror whose name extends it, and that mirror's staged dirs."""
    import os

    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
        BucketedMirror,
        staged_path,
    )
    from proof_of_concept___cdc_w_iceberg_spark.cdc.maintenance import (
        cleanup_staging,
    )

    rows = [(k, f"n{k}", float(k)) for k in range(1, 9)]
    snap = spark.createDataFrame(rows, "k long, name string, bal double")
    mirror, sibling = (BucketedMirror(spark, str(tmp_path / name), keys=["k"],
                                      n_buckets=2)
                       for name in ("cdc_commerce_account",
                                    "cdc_commerce_account_balance"))
    mirror.init(snap, writers=4)
    sibling.init(snap)
    assert max(len(f) for f in mirror.partition_files().values()) > 1
    mirror.compact()
    assert all(len(f) == 1 for f in mirror.partition_files().values())
    assert sorted(map(tuple, mirror.read().collect())) == rows
    assert sorted(os.listdir(tmp_path)) == [
        "cdc_commerce_account", "cdc_commerce_account_balance"]

    # staged swap dirs an interrupted commit leaves behind get expired
    stale = [staged_path(mirror.path, "b0", "delta"),
             staged_path(mirror.path, "b1", "merge"),
             staged_path(mirror.path, "compact", "merge"),
             staged_path(mirror.path, "compact", "rewrite"),
             staged_path(mirror.path, "ts5", "delta")]
    kept = staged_path(sibling.path, "b0", "delta")
    for d in (*stale, kept):
        os.makedirs(d)
    assert cleanup_staging(mirror.path) == len(stale)
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(p) for p in (mirror.path, sibling.path, kept))
    assert sorted(map(tuple, sibling.read().collect())) == rows


def test_diff_apply_round_trip(spark, sf_dir):
    """Round-trip law: apply(diff(old, new), old) == new."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.diff import table_changes
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    c = load(spark, sf_dir, "customer")
    old = c.select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    new = (
        old.filter(F.col("k") % 5 != 0)
        .withColumn("bal", F.col("bal") + 1.0)
        .unionByName(
            old.filter(F.col("k") % 9 == 0).select(
                (F.col("k") + 30_000_000).alias("k"), "name", "bal"
            )
        )
    )
    changes = table_changes(old, new, keys=["k"])
    rebuilt = apply_changes(old, changes, keys=["k"])
    assert mirror_diff(rebuilt, new).count() == 0
    # empty diff for identical tables
    assert table_changes(old, old, keys=["k"]).count() == 0
