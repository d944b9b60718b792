"""Partition-scoped CDC merge (cdc/bucketed.py): a change batch must
physically rewrite ONLY the key-hash bucket partitions it touches —
the property that makes the no-Iceberg fallback viable per-trigger at
100 TB (the reference gets it from Iceberg equality-delete commits,
`connect-iceberg-sink.json:30-33`).
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import apply_changes, mirror_diff
from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
    BUCKET_COL,
    BucketedMirror,
    bucket_expr,
    sized_bucket_count,
)

N_BUCKETS = 8


def _snapshot(spark):
    return spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("bal"),
    )


def _buckets_of(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    rows = df.select("k", bucket_expr(["k"], N_BUCKETS).alias("b")).collect()
    return {r["k"]: r["b"] for r in rows}


def _changes(spark, rows):
    """rows: list of (k, name, bal, op, ts_ms, off)"""
    return spark.createDataFrame(
        rows, "k long, name string, bal double, op string, ts_ms long, off long"
    )


def test_apply_rewrites_only_touched_buckets(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="bucketed_"), "mirror")
    m = BucketedMirror(spark, path, keys=["k"], n_buckets=N_BUCKETS)
    snap = _snapshot(spark)
    m.init(snap)
    before = m.partition_files()
    assert len(before) == N_BUCKETS  # 100 keys cover all 8 buckets

    # one update + one delete, both keys from the SAME bucket
    by_bucket = {}
    for k, b in _buckets_of(spark, range(100)).items():
        by_bucket.setdefault(b, []).append(k)
    target_bucket, keys = next(iter(sorted(by_bucket.items())))
    k_upd, k_del = keys[0], keys[1]
    touched = m.apply(_changes(spark, [
        (k_upd, "updated", 0.0, "u", 10, 1),
        (k_del, None, None, "d", 10, 2),
    ]))
    assert touched == [target_bucket]

    after = m.partition_files()
    for b in range(N_BUCKETS):
        if b == target_bucket:
            assert after[b] != before[b], "touched bucket must be rewritten"
        else:
            assert after[b] == before[b], f"bucket {b} must be untouched"

    # semantics identical to the plain full apply
    expected = apply_changes(
        snap,
        _changes(spark, [(k_upd, "updated", 0.0, "u", 10, 1),
                         (k_del, None, None, "d", 10, 2)]),
        keys=["k"],
    )
    assert mirror_diff(m.read(), expected).count() == 0


def test_apply_clears_fully_deleted_bucket(spark):
    """Dynamic partition overwrite writes nothing for an emptied
    bucket — the module must clear it explicitly or deletes resurrect."""
    path = os.path.join(tempfile.mkdtemp(prefix="bucketed_"), "mirror")
    m = BucketedMirror(spark, path, keys=["k"], n_buckets=N_BUCKETS)
    m.init(_snapshot(spark))

    by_bucket = {}
    for k, b in _buckets_of(spark, range(100)).items():
        by_bucket.setdefault(b, []).append(k)
    target_bucket, keys = next(iter(sorted(by_bucket.items())))
    m.apply(_changes(spark, [
        (k, None, None, "d", 10, i) for i, k in enumerate(keys)
    ]))
    assert target_bucket not in m.partition_files()
    got = m.read()
    assert got.filter(F.col("k").isin(keys)).count() == 0
    assert got.count() == 100 - len(keys)


def test_auto_create_from_empty_mirror(spark):
    """Routing auto-create path: init with a 0-row frame, then apply —
    the schema sidecar carries the row shape."""
    path = os.path.join(tempfile.mkdtemp(prefix="bucketed_"), "mirror")
    m = BucketedMirror(spark, path, keys=["k"], n_buckets=N_BUCKETS)
    snap = _snapshot(spark)
    m.init(snap.limit(0))
    assert m.read().count() == 0
    assert m.read().schema == snap.schema

    m.apply(_changes(spark, [
        (1, "a", 1.0, "c", 10, 1),
        (2, "b", 2.0, "c", 10, 2),
        (1, "a2", 1.5, "u", 20, 3),   # latest-wins within the batch
    ]))
    rows = {r["k"]: (r["name"], r["bal"]) for r in m.read().collect()}
    assert rows == {1: ("a2", 1.5), 2: ("b", 2.0)}


def test_apply_batches_accumulate_and_idempotent_replay(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="bucketed_"), "mirror")
    m = BucketedMirror(spark, path, keys=["k"], n_buckets=N_BUCKETS)
    snap = _snapshot(spark)
    m.init(snap)
    batch = _changes(spark, [
        (3, "x", 9.9, "u", 100, 1),
        (200, "new", 1.0, "c", 100, 2),
        (7, None, None, "d", 100, 3),
    ])
    m.apply(batch, tag="b0")
    m.apply(batch, tag="b0_replay")  # replay: latest-wins makes it a no-op
    expected = apply_changes(snap, batch, keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0


def test_compaction_halves_files_content_unchanged(spark, tmp_path):
    """Small-file maintenance (the parquet rewrite_data_files): a
    fragmented bucket drops to one file per partition; read() results
    are byte-identical before and after."""
    path = str(tmp_path / "mirror")
    m = BucketedMirror(spark, path, keys=["k"], n_buckets=N_BUCKETS)
    snap = _snapshot(spark)
    # Fragment deliberately: 8 writer tasks × each holding rows of
    # every bucket → ~8 files per partition dir.
    (m._with_bucket(snap).repartition(8)
     .write.partitionBy(BUCKET_COL).parquet(path))
    before_files = m.partition_files()
    frag = {b for b, fs in before_files.items() if len(fs) > 1}
    assert frag, "fixture should produce fragmented partitions"
    before_rows = sorted(map(tuple, m.read().collect()))

    done = m.compact(max_files=1)
    assert set(done) == {f"{BUCKET_COL}={b}" for b in frag}
    after_files = m.partition_files()
    for b in frag:
        assert len(after_files[b]) == 1
        assert len(before_files[b]) >= 2 * len(after_files[b]), (
            "compaction must at least halve files in a fragmented bucket"
        )
    assert sorted(map(tuple, m.read().collect())) == before_rows
    # Idempotent: a second pass finds nothing to do.
    assert m.compact(max_files=1) == {}


def _dated_snapshot(spark):
    return spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("bal"),
        (F.lit(2024) + F.col("id") % 3).cast("int").alias("yr"),
    )


def test_two_level_apply_prunes_both_levels(spark, tmp_path):
    """TwoLevelMirror: a batch confined to one (year, bucket) cell
    rewrites exactly that cell; every other (year, bucket) partition's
    files are untouched, and semantics match the plain full apply."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import TwoLevelMirror

    path = str(tmp_path / "mirror")
    m = TwoLevelMirror(spark, path, keys=["k"], date_col="yr",
                       n_buckets=N_BUCKETS)
    snap = _dated_snapshot(spark)
    m.init(snap)
    before = m.partition_files()
    assert len(before) > N_BUCKETS  # multiple years × buckets

    k_upd = 6  # yr = 2024 + 6 % 3 = 2024
    b = _buckets_of(spark, [k_upd])[k_upd]
    batch = spark.createDataFrame(
        [(k_upd, "upd", 0.0, 2024, "u", 10, 1)],
        "k long, name string, bal double, yr int, op string, ts_ms long, off long",
    )
    touched = m.apply(batch)
    assert touched == [(2024, b)]
    after = m.partition_files()
    for part in before:
        if part == ("2024", b):
            assert after[part] != before[part]
        else:
            assert after[part] == before[part], f"{part} must be untouched"

    expected = apply_changes(snap, batch, keys=["k"])
    got = m.read().withColumn("yr", F.col("yr").cast("int")).select(
        "k", "name", "bal", "yr")
    assert mirror_diff(got, expected.select("k", "name", "bal", "yr")).count() == 0


def test_two_level_delete_clears_emptied_cell(spark, tmp_path):
    """Deleting every key of one (year, bucket) cell removes that
    partition dir; the rest of the year survives."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import TwoLevelMirror

    path = str(tmp_path / "mirror")
    m = TwoLevelMirror(spark, path, keys=["k"], date_col="yr",
                       n_buckets=N_BUCKETS)
    m.init(_dated_snapshot(spark))
    # keys of year 2025 (id % 3 == 1) landing in one bucket
    keys_2025 = [k for k in range(100) if k % 3 == 1]
    bmap = _buckets_of(spark, keys_2025)
    b0 = bmap[keys_2025[0]]
    cell_keys = [k for k in keys_2025 if bmap[k] == b0]
    batch = spark.createDataFrame(
        [(k, None, None, 2025, "d", 10, i) for i, k in enumerate(cell_keys)],
        "k long, name string, bal double, yr int, op string, ts_ms long, off long",
    )
    m.apply(batch)
    assert ("2025", b0) not in m.partition_files()
    got = m.read()
    assert got.filter(F.col("k").isin(cell_keys)).count() == 0
    assert got.count() == 100 - len(cell_keys)


def test_snapshot_mirror_reuses_untouched_bucket_files(spark, tmp_path):
    """A commit must write only touched buckets; untouched bucket
    entries in the new manifest must point at the PREVIOUS commit's
    files (Iceberg-style file reuse), and older versions must stay
    readable after later commits (time travel)."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import SnapshotMirror

    m = SnapshotMirror(spark, str(tmp_path / "mirror"), keys=["k"], n_buckets=8)
    snap = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(100)], ["k", "name", "bal"])
    m.init(snap)
    # one-key update batch → exactly one touched bucket
    batch = spark.createDataFrame(
        [(7, "n7x", 7.5, "u", 2000, 1)],
        ["k", "name", "bal", "op", "ts_ms", "off"])
    m.apply(batch)
    m0, m1 = m._load_manifest(0), m._load_manifest(1)
    changed = {b for b in m1["buckets"]
               if m1["buckets"].get(b) != m0["buckets"].get(b)}
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"
    reused = {b for b in m1["buckets"]
              if m1["buckets"][b] == m0["buckets"].get(b)}
    assert reused == set(m0["buckets"]) - changed
    # time travel: v0 unchanged, v1 sees the update
    v0 = {r["k"]: r["name"] for r in m.read(0).collect()}
    v1 = {r["k"]: r["name"] for r in m.read(1).collect()}
    assert v0[7] == "n7" and v1[7] == "n7x"
    assert len(v0) == len(v1) == 100


def test_snapshot_mirror_delete_and_expire(spark, tmp_path):
    """Deletes drop rows in the new version only; expire removes
    commit dirs no live manifest references while the kept version
    still reads correctly."""
    import os

    from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import SnapshotMirror

    m = SnapshotMirror(spark, str(tmp_path / "mirror"), keys=["k"], n_buckets=4)
    snap = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(20)], ["k", "name", "bal"])
    m.init(snap)
    dele = spark.createDataFrame(
        [(k, None, None, "d", 2000, k) for k in range(20)],
        "k LONG, name STRING, bal DOUBLE, op STRING, ts_ms LONG, off LONG")
    m.apply(dele)
    assert m.read(1).count() == 0      # all rows deleted in v1
    assert m.read(0).count() == 20     # v0 still intact
    dead = m.expire(keep_last=1)
    assert dead == [0]
    assert m.read().count() == 0
    data_dir = os.path.join(m.path, "data")
    # v1 deleted everything and reuses nothing from commit 0 → only
    # dirs the live manifest references may remain
    live_refs = {os.path.basename(os.path.dirname(d))
                 for d in m._load_manifest(1)["buckets"].values()}
    assert set(os.listdir(data_dir)) <= live_refs | set()


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_mirror_reads_build_without_spark_jobs(spark, tmp_path):
    """Building a read runs no footer-reading (schema inference) job:
    BucketedMirror takes its schema from the init sidecar,
    SnapshotMirror from the manifest. Without a sidecar the bucketed
    read still works, by inference."""
    import uuid

    from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import SnapshotMirror

    snap = _snapshot(spark)
    bm = BucketedMirror(spark, str(tmp_path / "b"), keys=["k"],
                        n_buckets=N_BUCKETS)
    bm.init(snap)
    sm = SnapshotMirror(spark, str(tmp_path / "s"), keys=["k"],
                        n_buckets=N_BUCKETS)
    sm.init(snap)
    sm.apply(_changes(spark, [(3, "x", 9.9, "u", 100, 1)]))
    for name, build in (("bucketed", bm.read), ("snapshot", sm.read),
                        ("travel", lambda: sm.read(0)),
                        ("diff", lambda: sm.diff(0, 1))):
        df, n_jobs = _jobs_in_group(spark, f"read-{name}-{uuid.uuid4().hex}",
                                    build)
        assert n_jobs == 0, f"{name} read ran {n_jobs} jobs while building"
    def shape(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert shape(bm.read()) == shape(snap)
    assert sorted(map(tuple, bm.read().collect())) == \
        sorted(map(tuple, snap.collect()))
    assert sm.diff(0, 1).count() == 1

    os.remove(os.path.join(bm.path, "_schema.json"))
    assert shape(bm.read()) == shape(snap)
    assert bm.read().count() == 100


def test_apply_writes_one_file_per_touched_bucket(spark, tmp_path):
    """The merged relation is rebalanced on the bucket column, so at
    small sizes each rewritten bucket is ONE file, even after a
    fragmented ingest left several per bucket."""
    m = BucketedMirror(spark, str(tmp_path / "mirror"), keys=["k"],
                       n_buckets=N_BUCKETS)
    snap = _snapshot(spark)
    m.init(snap, writers=4)
    assert any(len(fs) > 1 for fs in m.partition_files().values())
    batch = _changes(spark, [(k, f"u{k}", 0.5, "u", 100, k)
                             for k in range(0, 100, 3)])
    touched = m.apply(batch)
    assert touched == list(range(N_BUCKETS))
    assert all(len(fs) == 1 for fs in m.partition_files().values())
    expected = apply_changes(snap, batch, keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0


def test_apply_splits_oversized_bucket_across_writers(spark, tmp_path):
    """Scale path of the rebalanced write: with AQE's advisory
    partition size far below one bucket, the bucket is split across
    several writer tasks (more than one file) instead of funnelling
    through one, and the mirror still equals a latest-wins rebuild."""
    m = BucketedMirror(spark, str(tmp_path / "mirror"), keys=["k"],
                       n_buckets=2)
    snap = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("bal"),
    )
    m.init(snap, writers=8)
    batch = _changes(spark, [(k, "upd", 1.0, "u", 100, k)
                             for k in range(0, 20_000, 97)]
                     + [(k, None, None, "d", 200, k)
                        for k in range(1, 20_000, 101)])
    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
            "spark.sql.files.maxPartitionBytes": "16k"}
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        m.apply(batch)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert max(len(fs) for fs in m.partition_files().values()) > 1
    expected = apply_changes(snap, batch, keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0


def _sidecar_buckets(m):
    with open(os.path.join(m.path, "_schema.json")) as f:
        return json.load(f)["n_buckets"]


def test_small_snapshot_lays_out_as_one_bucket(spark, tmp_path):
    """n_buckets=None sizes the mirror to one scan split per bucket: a
    snapshot far below spark.sql.files.maxPartitionBytes is one bucket,
    one file, and the count is recorded in the sidecar."""
    m = BucketedMirror(spark, str(tmp_path / "mirror"), keys=["k"])
    m.init(_snapshot(spark))
    assert m.n_buckets == 1 == _sidecar_buckets(m)
    assert {b: len(fs) for b, fs in m.partition_files().items()} == {0: 1}
    batch = _changes(spark, [(3, "x", 9.9, "u", 100, 1),
                             (7, None, None, "d", 100, 2)])
    assert m.apply(batch) == [0]
    expected = apply_changes(_snapshot(spark), batch, keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0


def _with_conf(spark, conf, fn):
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        return fn()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sized_bucket_count_follows_max_partition_bytes(spark, tmp_path):
    """With a scan split far below the snapshot's size, the same
    snapshot lays out as several buckets, with no Spark job spent on
    sizing; later applies use the recorded count whatever the session
    setting, and the mirror equals a latest-wins rebuild."""
    import uuid

    snap = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("bal"),
    )
    split = {"spark.sql.files.maxPartitionBytes": "16k"}
    n, n_jobs = _jobs_in_group(
        spark, f"size-{uuid.uuid4().hex}",
        lambda: _with_conf(spark, split, lambda: sized_bucket_count(snap)))
    assert n_jobs == 0
    assert n > 1
    m = BucketedMirror(spark, str(tmp_path / "mirror"), keys=["k"])
    _with_conf(spark, split, lambda: m.init(snap))
    assert m.n_buckets == n == _sidecar_buckets(m)
    assert len(m.partition_files()) == n
    batch = _changes(spark, [(k, "upd", 1.0, "u", 100, k)
                             for k in range(0, 20_000, 997)]
                     + [(k, None, None, "d", 200, k)
                        for k in range(1, 20_000, 1009)])
    touched = m.apply(batch)
    assert 1 < len(touched) <= n
    expected = apply_changes(snap, batch, keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0


def test_unsized_snapshot_keeps_fixed_bucket_count(spark):
    """A snapshot built from a Python list has no size estimate: its
    RDD scan reports spark.sql.defaultSizeInBytes. A column-narrowing
    select scales that placeholder down by row width, but the count
    stays UNSIZED_BUCKETS instead of one bucket per placeholder split."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import UNSIZED_BUCKETS

    rows = spark.createDataFrame(
        [(k, f"name_{k}", k * 1.5, f"note_{k}") for k in range(100)],
        "k long, name string, bal double, note string")
    assert sized_bucket_count(rows) == UNSIZED_BUCKETS
    assert sized_bucket_count(rows.select("k", "name")) == UNSIZED_BUCKETS
    assert sized_bucket_count(
        rows.select("k").join(_snapshot(spark), "k")) == UNSIZED_BUCKETS


def test_reopened_mirror_adopts_recorded_bucket_count(spark, tmp_path):
    """A mirror reopened without n_buckets hashes keys into the count
    its init recorded."""
    path = str(tmp_path / "mirror")
    BucketedMirror(spark, path, keys=["k"], n_buckets=5).init(_snapshot(spark))
    m = BucketedMirror(spark, path, keys=["k"])
    assert m.n_buckets == 5
    batch = _changes(spark, [(k, f"u{k}", 0.0, "u", 100, k)
                             for k in range(0, 100, 9)])
    m.apply(batch)
    assert len(m.partition_files()) == 5
    expected = apply_changes(_snapshot(spark), batch, keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0


def test_conflicting_bucket_count_is_refused(spark, tmp_path):
    """Regression: reopening a 16-bucket mirror with n_buckets=8 hashed
    the batch keys into the wrong buckets, so an update of all 200 keys
    left 303 rows. The recorded count now refuses the conflict, for
    both layouts, and the mirror is left as it was."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import TwoLevelMirror

    snap = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("bal"),
        (F.lit(2024) + F.col("id") % 3).cast("int").alias("yr"),
    )
    batch = spark.createDataFrame(
        [(k, "upd", 0.0, 2024 + k % 3, "u", 100, k) for k in range(200)],
        "k long, name string, bal double, yr int, op string, ts_ms long, "
        "off long")
    for name, make in (
            ("bucketed", lambda n: BucketedMirror(
                spark, str(tmp_path / "b"), keys=["k"], n_buckets=n)),
            ("two_level", lambda n: TwoLevelMirror(
                spark, str(tmp_path / "t"), keys=["k"], date_col="yr",
                n_buckets=n))):
        make(16).init(snap)
        reopened = make(8)
        with pytest.raises(ValueError, match="16 buckets"):
            reopened.apply(batch)
        assert reopened.read().count() == 200, name
        make(16).apply(batch)
        got = make(16).read()
        assert got.count() == 200, name
        assert got.filter(F.col("name") != "upd").count() == 0, name
