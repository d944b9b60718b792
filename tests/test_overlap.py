"""overlap(): the one driver-concurrency helper, and the mirrors'
prepare() handle it hands back."""

from __future__ import annotations

import ast
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.cdc.branches import BranchedMirror
from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
    BucketedMirror,
    TwoLevelMirror,
)
from proof_of_concept___cdc_w_iceberg_spark.cdc.specs import SpecEvolvingMirror
from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import SnapshotMirror
from proof_of_concept___cdc_w_iceberg_spark.operators._util import overlap

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "proof_of_concept___cdc_w_iceberg_spark")


def _snapshot(spark):
    return spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("d"),
        (F.col("id") * 1.5).alias("v"))


def _changes(spark):
    return spark.range(0, 2000, 7).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("d"),
        F.lit(9.0).alias("v"), F.lit("u").alias("op"),
        F.lit(2000).cast("long").alias("ts_ms"), F.col("id").alias("off"))


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_overlap_of_nothing_is_empty(spark):
    assert overlap(spark) == []


def test_overlap_returns_results_in_thunk_order(spark):
    def slow_first():
        time.sleep(0.3)
        return "first"

    assert overlap(spark, slow_first, lambda: "second") == ["first", "second"]


def test_overlapped_jobs_run_under_callers_job_group(spark, jobs_in_group):
    out, n_jobs = jobs_in_group(lambda: overlap(
        spark,
        lambda: spark.range(10).count(),
        lambda: spark.range(5).collect()))
    assert out[0] == 10 and len(out[1]) == 5
    assert n_jobs >= 2


def test_cancel_job_group_reaches_overlapped_job(spark, jobs_in_group):
    sc = spark.sparkContext
    group = f"overlap-cancel-{time.monotonic_ns()}"

    def slow() -> list:
        # Interrupt the sleeping task on cancel, so it frees its core.
        sc.setLocalProperty("spark.job.interruptOnCancel", "true")
        return spark.range(1, numPartitions=1).selectExpr(
            "reflect('java.lang.Thread', 'sleep', 60000L)").collect()

    def cancel_when_running() -> None:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            if sc.statusTracker().getJobIdsForGroup(group):
                sc.cancelJobGroup(group)
                return
            time.sleep(0.05)

    canceller = threading.Thread(target=cancel_when_running)
    canceller.start()
    t0 = time.monotonic()
    with pytest.raises(Exception, match="(?i)cancel"):
        jobs_in_group(lambda: overlap(spark, slow), group=group)
    canceller.join(timeout=30)
    assert not canceller.is_alive()
    assert time.monotonic() - t0 < 30


def test_failed_overlap_releases_prepared_batch(spark, tmp_path):
    m = BucketedMirror(spark, str(tmp_path / "m"), keys=["k"], n_buckets=8)
    bad = _snapshot(spark).filter(F.expr("assert_true(k < 0) IS NULL"))
    changes = _changes(spark)
    before = _persistent_rdds(spark)
    with pytest.raises(Exception, match="assert_true|k < 0"):
        overlap(spark, lambda: m.init(bad), lambda: m.prepare(changes))
    assert _persistent_rdds(spark) <= before

    # Without the failure the handle comes back persisted, and applying
    # it releases it.
    _, batch = overlap(spark, lambda: m.init(_snapshot(spark)),
                       lambda: m.prepare(changes))
    assert _persistent_rdds(spark) > before
    m.apply(batch)
    assert _persistent_rdds(spark) <= before
    batch.release()  # idempotent


@pytest.mark.parametrize("make,apply", [
    (lambda s, p: SnapshotMirror(s, p, keys=["k"], n_buckets=8),
     lambda m, b: m.apply(b)),
    (lambda s, p: BranchedMirror(s, p, keys=["k"], n_buckets=8),
     lambda m, b: m.apply(b)),
    (lambda s, p: BranchedMirror(s, p, keys=["k"], n_buckets=8),
     lambda m, b: m.apply_to_branch("audit", b)),
    (lambda s, p: BucketedMirror(s, p, keys=["k"], n_buckets=8),
     lambda m, b: m.apply(b)),
    (lambda s, p: TwoLevelMirror(s, p, keys=["k"], date_col="d",
                                 n_buckets=8),
     lambda m, b: m.apply(b)),
    (lambda s, p: SpecEvolvingMirror(s, p, keys=["k"], n_buckets=8),
     lambda m, b: m.apply(b)),
], ids=["snapshot", "branched", "branch", "bucketed", "two_level", "spec"])
def test_prepared_apply_job_budget(spark, tmp_path, jobs_in_group, make,
                                   apply):
    """prepare + apply of a handle runs at most 6 Spark jobs on every
    layout: the compaction is materialized by the one collect of its
    rows per partition, which apply reuses (the bucketed layouts ran 8
    when prepare counted rows and apply collected partitions again).
    The prepared commit equals the plain one."""
    plain = make(spark, str(tmp_path / "plain"))
    prepped = make(spark, str(tmp_path / "prepped"))
    for m in (plain, prepped):
        m.init(_snapshot(spark))
        if isinstance(m, BranchedMirror):
            m.branch_create("audit")
    apply(plain, _changes(spark))
    _, n_jobs = jobs_in_group(
        lambda: apply(prepped, prepped.prepare(_changes(spark))))
    assert n_jobs <= 6, n_jobs

    def rows(m):
        df = (m.read_ref("audit") if isinstance(m, BranchedMirror)
              else m.read())
        return sorted(map(tuple, df.select("k", "d", "v").collect()))

    assert rows(plain) == rows(prepped)


def test_spec_prepare_counts_under_current_spec(spark, tmp_path,
                                                jobs_in_group):
    """A batch prepared after evolve_spec is counted under the new spec,
    so its apply collects no touched set again; one prepared before it
    still applies, at the cost of that collect."""
    m = SpecEvolvingMirror(spark, str(tmp_path / "m"), keys=["k"],
                           n_buckets=8)
    m.init(_snapshot(spark))
    early = m.prepare(_changes(spark).filter(F.col("k") < 1000))
    m.evolve_spec(16)
    late = m.prepare(_changes(spark).filter(F.col("k") >= 1000))
    assert (early.n_buckets, late.n_buckets) == (8, 16)
    _, n_early = jobs_in_group(lambda: m.apply(early))
    _, n_late = jobs_in_group(lambda: m.apply(late))
    assert n_late < n_early
    assert set(m.spec_census()) <= {8, 16}


def _starts_threads(path: str) -> list[str]:
    """Thread-pool imports and Thread construction in one module."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in (
                "concurrent.futures", "threading"):
            hits += [a.name for a in node.names
                     if a.name in ("ThreadPoolExecutor", "Thread")]
        elif isinstance(node, ast.Attribute) and node.attr in (
                "ThreadPoolExecutor", "Thread"):
            hits.append(node.attr)
    return hits


def test_only_overlap_starts_driver_threads():
    """Every driver-side concurrency goes through overlap(), so every
    overlapped job inherits the caller's job group."""
    found = {}
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != os.path.join(
                    PKG, "operators", "_util.py"):
                hits = _starts_threads(path)
                if hits:
                    found[os.path.relpath(path, PKG)] = hits
    assert found == {}
    assert _starts_threads(os.path.join(PKG, "operators", "_util.py"))
