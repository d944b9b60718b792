"""The versioned mirrors (cdc/versioned.py, cdc/specs.py, cdc/branches.py)
and the one merge core they share with the bucketed layouts
(``merge_staged`` in cdc/bucketed.py): the merge identity, commit
allocation under concurrency, prepared vs plain apply, the
broadcast gate's sort-merge fallback, and sized bucket counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.cdc import bucketed
from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import (
    apply_changes,
    compact_latest,
    mirror_diff,
    upsert_compacted,
)
from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
    UNSIZED_BUCKETS,
    BucketedMirror,
    sized_bucket_count,
)
from proof_of_concept___cdc_w_iceberg_spark.cdc.specs import SpecEvolvingMirror
from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import SnapshotMirror


def _target(spark):
    rows = [(i, f"n{i}", float(i)) for i in range(40)]
    rows.append((None, "null_key", -1.0))  # NULL-key row must be droppable
    return spark.createDataFrame(rows, "k long, name string, bal double")


def _changes(spark):
    return spark.createDataFrame(
        [
            (3, "x", 9.9, "u", 100, 1),
            (3, "x2", 8.8, "u", 200, 2),   # later stamp wins in-compaction
            (200, "new", 1.0, "c", 100, 3),
            (7, None, None, "d", 100, 4),
            (None, None, None, "d", 100, 5),  # NULL-key delete must land
        ],
        "k long, name string, bal double, op string, ts_ms long, off long",
    )


def test_upsert_compacted_matches_apply_changes(spark):
    """upsert_compacted over a pre-compacted batch == apply_changes over
    the raw batch — the identity the mirror merge relies on to skip a
    second in-merge compaction window."""
    target = _target(spark)
    changes = _changes(spark)
    expected = apply_changes(target, changes, keys=["k"])
    latest = compact_latest(changes, ["k"])
    got = upsert_compacted(target, latest, ["k"])
    assert mirror_diff(got, expected).count() == 0


def test_concurrent_commits_same_process_allocate_distinct_versions(spark, tmp_path):
    """_commit's staging tmp name was pid-only, so two driver THREADS
    committing concurrently (the wap_race / overlapped wap_publish
    shape) staged the same file — the winner's link-and-unlink made the
    loser's os.link die with FileNotFoundError instead of the
    FileExistsError the allocation loop retries on. With the
    writer-unique tmp name, N concurrent commits must serialize to N
    distinct versions with no error."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    m = SnapshotMirror(spark, str(tmp_path / "mirror"), keys=["k"])
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    m.init(df)

    barrier = threading.Barrier(8)

    def commit(i):
        barrier.wait()
        return m._commit({}, df.schema.json(), parent=0, linear=False)

    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = list(pool.map(commit, range(8)))
    assert sorted(versions) == list(range(1, 9))


def test_prepare_then_apply_matches_plain_apply(spark, tmp_path):
    """apply takes a raw batch or a prepare() handle as its one batch
    argument: applying a pre-materialized handle must commit exactly
    what the one-call apply commits, on main and on a branch."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.branches import (
        BranchedMirror,
    )

    base = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(30)],
        "k long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [(3, "x", 9.9, "u", 100, 1), (200, "new", 1.0, "c", 100, 2),
         (7, None, None, "d", 100, 3)],
        "k long, name string, bal double, op string, ts_ms long, off long",
    )

    m1 = BranchedMirror(spark, str(tmp_path / "plain"), keys=["k"])
    m1.init(base)
    m1.apply(changes)
    plain = sorted(map(tuple, m1.read_ref("main").drop("__bucket").collect()))

    m2 = BranchedMirror(spark, str(tmp_path / "prepped"), keys=["k"])
    m2.init(base)
    m2.apply(m2.prepare(changes))
    prepped = sorted(
        map(tuple, m2.read_ref("main").drop("__bucket").collect()))
    assert plain == prepped

    m3 = BranchedMirror(spark, str(tmp_path / "branch"), keys=["k"])
    m3.init(base)
    m3.branch_create("audit")
    m3.apply_to_branch("audit", m3.prepare(changes))
    branched = sorted(
        map(tuple, m3.read_ref("audit").drop("__bucket").collect()))
    assert plain == branched


def _merged_plans(spark, monkeypatch, tmp_path, threshold):
    """Apply ``_changes`` to a SnapshotMirror and a BucketedMirror of
    ``_target`` with spark.sql.autoBroadcastJoinThreshold at
    ``threshold`` (None: the session's own), restoring it afterwards.
    Returns each mirror's merged-relation plan and whether the mirror
    equals the latest-wins rebuild."""
    plans = []
    real = bucketed.upsert_compacted

    def recording(*args, **kwargs):
        merged = real(*args, **kwargs)
        plans.append(merged._jdf.queryExecution().executedPlan().toString())
        return merged

    monkeypatch.setattr(bucketed, "upsert_compacted", recording)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    out = {}
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        expected = apply_changes(_target(spark), _changes(spark), keys=["k"])
        for name, m in (
                ("snapshot", SnapshotMirror(
                    spark, str(tmp_path / f"s{threshold}"), keys=["k"])),
                ("bucketed", BucketedMirror(
                    spark, str(tmp_path / f"b{threshold}"), keys=["k"]))):
            m.init(_target(spark))
            m.apply(_changes(spark))
            equal = mirror_diff(m.read(), expected).count() == 0
            out[name] = (plans.pop(), equal)
    finally:
        spark.conf.set(key, saved)
    return out


def test_merge_falls_back_to_sort_merge_join(spark, monkeypatch, tmp_path):
    """A batch whose key side does not fit the broadcast threshold is
    never force-broadcast: with the threshold lowered below one row,
    the merged relation of both a SnapshotMirror and a BucketedMirror
    apply plans a sort-merge anti-join and no broadcast, and each
    mirror still equals the latest-wins rebuild. At the session's
    threshold the same small batch is broadcast."""
    for name, (plan, equal) in _merged_plans(
            spark, monkeypatch, tmp_path, "1").items():
        assert "SortMergeJoin" in plan, (name, plan)
        assert "BroadcastExchange" not in plan, (name, plan)
        assert equal, name
    for name, (plan, equal) in _merged_plans(
            spark, monkeypatch, tmp_path, None).items():
        assert "BroadcastExchange" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert equal, name


def _split(spark, size, fn):
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, size)
        return fn()
    finally:
        spark.conf.set(key, saved)


def test_versioned_mirrors_are_sized_at_init(spark, tmp_path):
    """SnapshotMirror(n_buckets=None) lays v0 out in
    sized_bucket_count(snapshot) buckets and records the count as the
    manifest's spec; a list-built snapshot has no size estimate and
    keeps UNSIZED_BUCKETS. A SpecEvolvingMirror sized at init still
    only grows by integer multiples, and a mirror reopened with a
    different n_buckets merges under the recorded spec."""
    src = str(tmp_path / "snap.parquet")
    spark.range(20_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("bal"),
    ).write.parquet(src)
    snap = spark.read.parquet(src)

    small = SnapshotMirror(spark, str(tmp_path / "small"), keys=["k"])
    small.init(snap)
    n_small = sized_bucket_count(snap)
    man = small._load_manifest(0)
    assert man["spec"] == n_small
    assert {label.split(":")[0] for label in man["buckets"]} == {str(n_small)}

    listed = SnapshotMirror(spark, str(tmp_path / "listed"), keys=["k"])
    listed.init(spark.createDataFrame(
        [(k, f"n{k}", k * 1.5) for k in range(100)],
        "k long, name string, bal double"))
    assert listed._load_manifest(0)["spec"] == UNSIZED_BUCKETS

    path = str(tmp_path / "spec")
    m = SpecEvolvingMirror(spark, path, keys=["k"])
    n = _split(spark, "64k", lambda: sized_bucket_count(snap))
    assert n > 1, n  # so that n + 1 is not a multiple of n
    _split(spark, "64k", lambda: m.init(snap))
    assert m._load_manifest(0)["spec"] == n
    with pytest.raises(ValueError, match="integer multiple"):
        m.evolve_spec(n + 1)
    m.evolve_spec(2 * n)
    assert m.spec_census() == {n: n}

    changes = spark.createDataFrame(
        [(k, "upd", 1.0, "u", 100, k) for k in range(0, 20_000, 997)]
        + [(k, None, None, "d", 200, k) for k in range(1, 20_000, 1009)],
        "k long, name string, bal double, op string, ts_ms long, off long")
    reopened = SnapshotMirror(spark, path, keys=["k"], n_buckets=7)
    assert mirror_diff(reopened.read(), snap).count() == 0
    v = reopened.apply(changes)
    assert reopened._load_manifest(v)["spec"] == 2 * n
    assert set(m.spec_census()) <= {n, 2 * n}
    expected = apply_changes(snap, changes, keys=["k"])
    assert mirror_diff(reopened.read(), expected).count() == 0
