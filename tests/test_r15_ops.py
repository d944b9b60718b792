"""Round-15 additions (r14 verdict items 3-5): the small-file
compaction rung (q_cdc_compact_files — bin-pack is content-invisible
and halves the ingest file count), the micro-batch REPLAY idempotency
laws for every streaming state-transition function (foreachBatch is
at-least-once; latest-wins / max / set-union merges absorb a replayed
batch, the count-based CMS grid does NOT and needs the batch-id
guard), and event-time state eviction (TTL) for the durable-state
twins. Registry/bench mechanics stay in test_registry_order.py /
test_bench_contract.py.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.registry import oracles, queries

QS = queries()
OS = oracles()


# --- q_cdc_compact_files: bin-pack is content-invisible ---------------


def test_compact_files_content_invisible_and_ledger(spark, sf_dir):
    """The full ledger of the registered rung, step by step: fragmented
    ingest (~8 files/bucket), partition-scoped apply, compact to <=1
    file per leaf — with collect-level before/after equality around the
    compact() call (the byte-identity law the driver's hash check
    proves against the latest-wins oracle end to end)."""
    import os
    import tempfile

    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
        BucketedMirror,
    )
    from proof_of_concept___cdc_w_iceberg_spark.cdc.queries import (
        _scale_mirror_and_changes,
    )

    li, changes = _scale_mirror_and_changes(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="compact_law_"), "mirror")
    m = BucketedMirror(spark, path, keys=["l_orderkey", "l_linenumber"],
                       n_buckets=16)
    m.init(li, writers=8)
    ingest = m.partition_files()
    n_ingest = sum(len(fs) for fs in ingest.values())
    assert any(len(fs) > 1 for fs in ingest.values()), (
        "writers=8 ingest must fragment bucket dirs"
    )
    m.apply(changes)
    before_rows = sorted(map(tuple, m.read().collect()))
    done = m.compact()
    after_rows = sorted(map(tuple, m.read().collect()))
    assert after_rows == before_rows, "compaction changed table content"
    after = m.partition_files()
    n_after = sum(len(fs) for fs in after.values())
    assert all(len(fs) <= 1 for fs in after.values())
    assert n_after * 2 <= n_ingest, (n_ingest, n_after)
    # Only still-fragmented leaves were rewritten (scan-skip law).
    assert all(rel.startswith("__bucket=") for rel in done)
    assert m.compact() == {}


def test_compact_files_query_idempotent_rerun(spark, sf_dir):
    """Table-writing registered queries must survive a run-twice in one
    session (the driver/bench may invoke twice): both invocations build
    in fresh tmp dirs and return identical relations."""
    for name in ("q_cdc_compact_files", "q_cdc_wap_publish"):
        a = sorted(map(tuple, QS[name](spark, sf_dir).collect()))
        b = sorted(map(tuple, QS[name](spark, sf_dir).collect()))
        assert a == b and len(a) > 0, name


def test_compact_files_matches_uncompacted_apply(spark, sf_dir):
    """q_cdc_compact_files returns the SAME relation as the plain
    full-rewrite apply (q_cdc_apply_scale) — compaction and the
    bucketed layout are both content-invisible."""
    got = sorted(map(tuple, QS["q_cdc_compact_files"](spark, sf_dir).collect()))
    want = sorted(map(tuple, QS["q_cdc_apply_scale"](spark, sf_dir).collect()))
    assert got == want


# --- micro-batch replay idempotency (r14 verdict item 4) ---------------


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_replay_absorbed_by_idempotent_sketch_merges(spark, sf_dir):
    """foreachBatch is at-least-once: redelivering the SAME batch must
    leave max/set-union state unchanged — f(f(s,b),b) == f(s,b) for
    the HLL (register max), Bloom (position union), and theta
    (bottom-k distinct) transitions."""
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load
    from proof_of_concept___cdc_w_iceberg_spark.streaming.queries import (
        bloom_stream_apply,
        hll_stream_apply,
        theta_stream_apply,
    )

    o = load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    empty = o.select(
        F.lit(0).cast("bigint").alias("j"), F.lit(0).cast("int").alias("m")
    ).limit(0)
    batch = o.filter(F.col("k") <= 2_000)
    h1 = hll_stream_apply(empty, batch)
    h2 = hll_stream_apply(h1, batch)
    assert _rows(h2) == _rows(h1)

    c = load(spark, sf_dir, "customer")
    dim = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bempty = spark.range(0).select(F.col("id").cast("bigint").alias("pos"))
    b1 = bloom_stream_apply(bempty, dim, "c_custkey")
    b2 = bloom_stream_apply(b1, dim, "c_custkey")
    assert _rows(b2) == _rows(b1)

    ob = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    tempty = ob.select(F.lit(0).cast("bigint").alias("h")).limit(0)
    ta1, tb1 = theta_stream_apply(tempty, tempty, ob)
    ta2, tb2 = theta_stream_apply(ta1, tb1, ob)
    # theta re-sketches the incoming batch, so replay re-unions the
    # same distinct hashes: bottom-k distinct absorbs it.
    assert _rows(ta2) == _rows(ta1) and _rows(tb2) == _rows(tb1)


def test_cms_replay_double_counts_without_guard(spark, sf_dir):
    """The boundary the guard exists for: CMS cells are SUMS, so a
    replayed batch doubles every cell it touched."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
        cms_empty_grid,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load
    from proof_of_concept___cdc_w_iceberg_spark.streaming.queries import (
        cms_stream_apply,
    )

    li = load(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k"))
    batch = li.limit(500)
    once = cms_stream_apply(cms_empty_grid(li), batch)
    twice = cms_stream_apply(once, batch)
    t_once = once.agg(F.sum("cnt")).first()[0]
    t_twice = twice.agg(F.sum("cnt")).first()[0]
    assert t_twice == 2 * t_once > 0


def test_quantile_transition_duplicates_without_guard(spark, sf_dir):
    """Second non-idempotent transition (beyond the verdict's CMS
    call-out): the q_stream_sketch bottom-k sample has NO distinct, so
    a replayed batch's (v, h) rows duplicate inside the k-row sample
    and would shift read-out ranks. Classified guard-needed."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
        kq_sample,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("v"),
        F.md5(F.concat(F.lit("skq|"), F.col("event_id").cast("string"))).alias("h"),
    )
    batch = ev.limit(100)  # < k/2 so duplication is fully visible
    empty = ev.limit(0)
    s1 = kq_sample(empty.unionByName(kq_sample(batch)))
    s2 = kq_sample(s1.unionByName(kq_sample(batch)))
    assert s1.count() == 100
    assert s2.count() == 200, "replayed sample rows duplicate"
    assert s2.select("h").distinct().count() == 100


def test_batchid_guard_absorbs_replay(spark, sf_dir):
    """ReplayGuardedState: a redelivered batch_id is a no-op (state
    object unchanged), a fresh id advances, and the guarded end state
    equals the exactly-once sequential apply."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
        cms_empty_grid,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load
    from proof_of_concept___cdc_w_iceberg_spark.streaming.queries import (
        ReplayGuardedState,
        cms_stream_apply,
    )

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), "l_orderkey"
    )
    b0 = li.filter(F.col("l_orderkey") <= 20_000).select("k")
    b1 = li.filter(F.col("l_orderkey") > 20_000).select("k")
    g = ReplayGuardedState(cms_empty_grid(li), cms_stream_apply)
    assert g.apply(0, b0) is True
    snap = _rows(g.state)
    assert g.apply(0, b0) is False, "replayed id must be skipped"
    assert _rows(g.state) == snap
    assert g.apply(1, b1) is True
    ref = cms_stream_apply(cms_stream_apply(cms_empty_grid(li), b0), b1)
    assert _rows(g.state) == _rows(ref)


def test_batchid_guard_retract_replay_matches_net_rebuild(spark, sf_dir):
    """End-to-end replay law for the turnstile grid: drive the
    q_stream_cms_retract batch sequence WITH a mid-sequence replay
    injected through the guard; the final guarded grid equals the
    replay-free sequential apply (hence the net-survivor rebuild the
    registered oracle proves)."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
        cms_empty_grid,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load
    from proof_of_concept___cdc_w_iceberg_spark.streaming.queries import (
        ReplayGuardedState,
        cms_retract_apply,
    )

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), "l_orderkey"
    )
    none = li.select("k").limit(0)
    batches = [
        (li.filter(F.col("l_orderkey") <= 20_000).select("k"), none),
        (
            li.filter(F.col("l_orderkey").between(20_001, 40_000)).select("k"),
            li.filter(
                (F.col("l_orderkey") <= 20_000) & (F.col("l_orderkey") % 7 == 3)
            ).select("k"),
        ),
        (
            li.filter(F.col("l_orderkey") >= 40_001).select("k"),
            li.filter(
                F.col("l_orderkey").between(20_001, 40_000)
                & (F.col("l_orderkey") % 7 == 3)
            ).select("k"),
        ),
    ]
    g = ReplayGuardedState(cms_empty_grid(li), cms_retract_apply)
    ref = cms_empty_grid(li)
    for i, (ins, dels) in enumerate(batches):
        assert g.apply(i, ins, dels) is True
        if i == 1:  # failure after sink commit: batch 1 redelivered
            assert g.apply(1, ins, dels) is False
        ref = cms_retract_apply(ref, ins, dels)
    assert _rows(g.state) == _rows(ref)


# --- event-time TTL eviction (r14 verdict item 5) -----------------------


def test_cumsum_ttl_evicts_and_rebuilds(spark):
    """The state-TTL law, live through applyInPandasWithState with
    EventTimeTimeout: a key silent past last+TTL (1 h) evicts — state
    removed, ONE eviction marker emitted — and a key re-arriving AFTER
    its horizon rebuilds from zero (its emission shows only the new
    value, not old+new); a key that keeps arriving inside its horizon
    accumulates across the whole run and never evicts."""
    import datetime as dt
    import shutil
    import tempfile
    import time

    from proof_of_concept___cdc_w_iceberg_spark import registry
    from proof_of_concept___cdc_w_iceberg_spark.streaming.stateful import (
        value_cumsum_stream_ttl,
    )

    registry._ship_package(spark)  # state fn unpickles on workers
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    H = dt.timedelta(hours=1)
    A, B = 1, 2
    batches = [
        [("x", A, 10.0, t0), ("x", B, 5.0, t0)],
        [("x", A, 1.0, t0 + 2 * H)],     # advances wm past B's horizon
        [("x", B, 7.0, t0 + 2 * H)],     # B re-arrives expired: rebuild
        [("x", A, 2.0, t0 + 10 * H)],    # advances wm past B's new horizon
        [("x", A, 1.0, t0 + 10 * H)],    # B silent -> timeout fires
    ]
    src = tempfile.mkdtemp(prefix="cumsum_ttl_")
    ckpt = src + "_ckpt"
    emissions: list[tuple] = []  # (batch_id, user_id, micros, evicted)
    try:
        for rows in batches:
            spark.createDataFrame(
                rows, "event_type string, user_id long, value double, ts timestamp"
            ).repartition(1).write.mode("append").parquet(src)
            time.sleep(0.06)  # distinct file mtimes -> deterministic order

        stream = (
            spark.readStream.schema(
                "event_type string, user_id long, value double, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(batch_df, bid):
            for r in batch_df.collect():
                emissions.append((bid, r["user_id"], r["micros"], r["evicted"]))

        q = (
            value_cumsum_stream_ttl(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(300)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    a_rows = [e for e in emissions if e[1] == A]
    b_rows = [e for e in emissions if e[1] == B]
    # A kept arriving inside its horizon: monotone accumulation, no
    # eviction ever.
    assert [m for _, _, m, ev in a_rows if not ev] == [
        10_000_000, 11_000_000, 13_000_000, 14_000_000
    ]
    assert not any(ev for *_, ev in a_rows)
    # B: initial 5, expired rebuild shows 7 (NOT 12 — old state gone),
    # then exactly one eviction marker, after the rebuild emission.
    b_live = [m for _, _, m, ev in b_rows if not ev]
    assert b_live == [5_000_000, 7_000_000]
    markers = [e for e in b_rows if e[3]]
    assert len(markers) == 1, f"exactly one eviction marker: {b_rows}"
    assert markers[0][2] is None, "eviction marker must carry no total"
    assert markers[0][0] > max(bid for bid, _, _, ev in b_rows if not ev), (
        "eviction must fire after the rebuild emission"
    )


# --- WAP branches (cdc/branches.py) -------------------------------------


def test_wap_branch_isolation_publish_and_expiry(spark, sf_dir):
    """Branch laws: (1) a branch commit never moves main or sibling
    refs; (2) publish is a pure pointer move — main's read becomes the
    audited branch state byte for byte; (3) branch-aware expiry never
    reclaims a snapshot any ref still points at, and DOES reclaim a
    dropped branch's orphaned commit."""
    import os
    import tempfile

    from proof_of_concept___cdc_w_iceberg_spark.cdc.branches import (
        BranchedMirror,
    )
    from proof_of_concept___cdc_w_iceberg_spark.cdc.queries import (
        _scale_mirror_and_changes,
    )

    li, changes = _scale_mirror_and_changes(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="wap_law_"), "mirror")
    m = BranchedMirror(spark, path, keys=["l_orderkey", "l_linenumber"],
                       n_buckets=8)
    v0 = m.init(li)

    m.branch_create("audit")
    v1 = m.apply_to_branch("audit", changes)
    assert m.get_ref("main") == v0, "branch commit moved main"
    m.branch_create("pin")  # sibling created DURING the audit
    assert m.get_ref("pin") == v0, "sibling must branch from main, not audit"
    snap_main = sorted(map(tuple, m.read_ref("main").drop("__bucket").collect()))
    snap_branch = sorted(map(tuple, m.read_ref("audit").drop("__bucket").collect()))
    assert snap_main != snap_branch, "fixture batch must actually change rows"

    m.fast_forward("main", "audit")
    assert m.get_ref("main") == v1
    assert sorted(
        map(tuple, m.read_ref("main").drop("__bucket").collect())
    ) == snap_branch, "publish must adopt the audited state byte for byte"

    # A second, FAILED wap round: commit then drop the branch.
    m.drop_branch("audit")
    m.branch_create("audit")
    v2 = m.apply_to_branch("audit", changes.limit(200))
    m.drop_branch("audit")
    # One more main commit so v2 leaves the recency window too.
    v3 = m.apply(changes.limit(50))
    assert m.get_ref("main") == v3

    dead = m.expire(keep_last=1)
    assert v2 in dead, "dropped branch's snapshot must be reclaimable"
    assert v0 not in dead, "'pin' still points at v0 — must survive"
    assert v0 in m.versions() and v3 in m.versions()
    assert v2 not in m.versions()
    # The pinned old version stays fully readable after expiry.
    assert sorted(
        map(tuple, m.read_ref("pin").drop("__bucket").collect())
    ) == snap_main


def test_wap_refs_guardrails(spark, sf_dir):
    """set_ref refuses a version with no snapshot; main cannot be
    dropped; dup-audit positive arm (scoped to batch keys)."""
    import os
    import tempfile

    import pytest as _pytest

    from proof_of_concept___cdc_w_iceberg_spark.cdc.branches import (
        BranchedMirror,
        wap_audit,
    )

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="wap_guard_"), "mirror")
    m = BranchedMirror(spark, path, keys=["k"], n_buckets=4)
    m.init(df)
    with _pytest.raises(ValueError):
        m.set_ref("main", 99)
    with _pytest.raises(ValueError):
        m.drop_branch("main")
    # Creating over a LIVE ref (main included) must refuse — moving a
    # published pointer goes through fast_forward, never create.
    with _pytest.raises(ValueError):
        m.branch_create("main", from_ref="main")
    m.branch_create("b1")
    with _pytest.raises(ValueError):
        m.branch_create("b1")
    # Degenerate ingest parallelism is an error, not a silent
    # clustered layout (BucketedMirror/TwoLevelMirror init — the
    # classes that carry the writers knob).
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
        BucketedMirror,
        TwoLevelMirror,
    )

    bm = BucketedMirror(spark, path + "_b", keys=["k"], n_buckets=4)
    with _pytest.raises(ValueError):
        bm.init(df, writers=0)
    tl = TwoLevelMirror(spark, path + "_t", keys=["k"], date_col="k",
                        n_buckets=4)
    with _pytest.raises(ValueError):
        tl.init(df, writers=0)

    # Positive dup-audit arm: a state that DOES violate touched-key
    # uniqueness (simulating a broken writer) is caught when scoped.
    broken = df.unionByName(df.limit(3))
    batch = spark.range(3).select(F.col("id").alias("k"))
    audit = wap_audit(broken, ["k"], batch_keys=batch)
    assert audit["dup_keys"] == 3 and audit["null_keys"] == 0
    # Unscoped audit counts the same groups globally.
    assert wap_audit(broken, ["k"])["dup_keys"] == 3


def test_durable_replay_guard_restart_and_crash_windows(spark, sf_dir):
    """DurableReplayGuard: the watermark+state survive a 'process
    restart' (fresh guard over the same path); a replayed id is skipped
    after restart; and BOTH crash windows land safely — state written
    but pointer unmoved re-applies over the old state, pointer moved
    skips. Final state always equals the exactly-once sequential
    apply."""
    import json
    import os
    import shutil
    import tempfile

    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
        cms_empty_grid,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load
    from proof_of_concept___cdc_w_iceberg_spark.streaming.queries import (
        DurableReplayGuard,
        cms_stream_apply,
    )

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), "l_orderkey"
    )
    empty = cms_empty_grid(li)
    b = [
        li.filter(F.col("l_orderkey") <= 20_000).select("k"),
        li.filter(F.col("l_orderkey").between(20_001, 40_000)).select("k"),
        li.filter(F.col("l_orderkey") >= 40_001).select("k"),
    ]
    path = tempfile.mkdtemp(prefix="durable_guard_")
    try:
        g = DurableReplayGuard(spark, path, empty, cms_stream_apply)
        assert g.apply(0, b[0]) is True
        assert g.apply(1, b[1]) is True

        # Restart: new instance, same path — watermark survives.
        g2 = DurableReplayGuard(spark, path, empty, cms_stream_apply)
        assert g2.last_batch_id() == 1
        assert g2.apply(1, b[1]) is False, "replay after restart must skip"

        # Crash window A: batch 2's state written, pointer NOT moved
        # (simulated by writing the commit dir by hand). The replayed
        # batch must re-apply over the OLD state and overwrite.
        stale = cms_stream_apply(g2.state(), b[2].limit(10))  # wrong content
        stale.write.mode("overwrite").parquet(
            os.path.join(path, "commit_b2"))
        g3 = DurableReplayGuard(spark, path, empty, cms_stream_apply)
        assert g3.last_batch_id() == 1, "unpublished commit must be invisible"
        assert g3.apply(2, b[2]) is True

        ref = empty
        for batch in b:
            ref = cms_stream_apply(ref, batch)
        assert _rows(g3.state()) == _rows(ref)

        # Crash window B: pointer moved (publish complete) — replay of
        # batch 2 skips even though the commit dir was re-creatable.
        assert g3.apply(2, b[2]) is False
        assert _rows(g3.state()) == _rows(ref)

        # Exactly one live commit dir remains after cleanup.
        commits = [n for n in os.listdir(path) if n.startswith("commit_b")]
        assert commits == ["commit_b2"]
        # Corrupt pointer degrades to a fresh start, not a crash —
        # for EVERY corruption shape: non-JSON, wrong structure, wrong
        # field types (review finding: '{}' must not KeyError).
        for corrupt in ("{not json", "{}", "[]", '{"batch_id": "x"}',
                        '{"batch_id": 3, "dir": 7}'):
            with open(os.path.join(path, "CURRENT.json"), "w") as f:
                f.write(corrupt)
            g4 = DurableReplayGuard(spark, path, empty, cms_stream_apply)
            assert g4.last_batch_id() == -1, corrupt
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_two_level_compact_binpacks_fragmented_cells(spark, tmp_path):
    """compact() on the TWO-LEVEL (date x bucket) layout: fragmented
    (year, bucket) leaves bin-pack to one file each, content unchanged,
    compacted leaves scan-skipped — the same rewrite_data_files law
    q_cdc_compact_files registers for the one-level mirror, proven at
    the deeper partition depth."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
        BUCKET_COL,
        TwoLevelMirror,
        _leaf_files,
    )

    path = str(tmp_path / "mirror")
    m = TwoLevelMirror(spark, path, keys=["k"], date_col="yr", n_buckets=4)
    snap = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("bal"),
        (F.lit(2024) + F.col("id") % 2).cast("int").alias("yr"),
    )
    # Fragment via the cheap-ingest path: 6 writer tasks each holding
    # rows of every (year, bucket) cell.
    m.init(snap, writers=6)
    before = dict(_leaf_files(m.path))
    frag = {rel for rel, fs in before.items() if len(fs) > 1}
    assert frag, "fixture should fragment two-level leaves"
    before_rows = sorted(map(tuple, m.read().collect()))

    done = m.compact()
    assert set(done) == frag
    after = dict(_leaf_files(m.path))
    assert all(len(fs) == 1 for rel, fs in after.items() if rel in frag)
    # Leaves at year/bucket depth, never intermediate dirs.
    assert all(
        rel.split("/")[0].startswith("yr=")
        and rel.split("/")[1].startswith(BUCKET_COL + "=")
        for rel in done
    )
    assert sorted(map(tuple, m.read().collect())) == before_rows
    assert m.compact() == {}


def test_upsert_apply_changes_replay_idempotent(spark, sf_dir):
    """The latest-wins upsert primitive itself (cdc.apply_changes —
    every mirror store's merge kernel) absorbs a replayed batch:
    apply(apply(mirror, b), b) == apply(mirror, b). Complements the
    BucketedMirror-level replay test in test_bucketed.py."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import apply_changes
    from proof_of_concept___cdc_w_iceberg_spark.sources.cdc_fixtures import (
        changelog,
    )

    ch = changelog(spark, sf_dir)
    mirror = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    batch = ch.filter(F.col("op") != "r")
    once = apply_changes(mirror, batch, keys=["k"])
    twice = apply_changes(once, batch, keys=["k"])
    assert _rows(twice) == _rows(once)


# --- property test: the guard kernel itself (pure, no Spark) ------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(
            st.integers(min_value=0, max_value=30), min_size=0, max_size=60
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_replay_guard_kernel_property(ids) -> None:
        """For ANY delivery sequence (Spark guarantees ids non-
        decreasing across redeliveries, but the guard must not even
        need that): the guarded state equals applying exactly the
        strictly-increasing first occurrences, in order — every
        replayed or stale id is a no-op."""
        from proof_of_concept___cdc_w_iceberg_spark.streaming.queries import (
            ReplayGuardedState,
        )

        g = ReplayGuardedState((), lambda s, b: s + (b,))
        last = -1
        for i in ids:
            ok = g.apply(i, i)
            # apply returns True exactly when the id strictly exceeded
            # every previously APPLIED id.
            assert ok == (i > last)
            if ok:
                last = i
        expect: list[int] = []
        for i in ids:
            if not expect or i > expect[-1]:
                expect.append(i)
        assert g.state == tuple(expect)

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


# --- quantized similarity (r15) ------------------------------------------


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 quantization is an approximation with a measurable price:
    assert the quantized top-5 keeps high overlap with the exact
    full-precision top-5 per query (mean recall >= 0.7 at sf0.001),
    and that the quantized scores are exact integers (the property the
    oracle hash check rides on)."""
    got = QS["q_sim_topk_quantized"](spark, sf_dir).collect()
    exact = QS["q_sim_topk"](spark, sf_dir).collect()
    quant_top: dict[int, set] = {}
    for r in got:
        quant_top.setdefault(r["query_id"], set()).add(r["cand_id"])
        assert isinstance(r["qdot"], int)
    exact_top: dict[int, set] = {}
    for r in exact:
        exact_top.setdefault(r["query_id"], set()).add(r["cand_id"])
    assert set(quant_top) == set(exact_top), "same query set"
    recalls = [
        len(quant_top[q] & exact_top[q]) / len(exact_top[q])
        for q in exact_top
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.7, f"quantization recall collapsed: {mean_recall}"
