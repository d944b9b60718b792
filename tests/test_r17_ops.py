"""Round-17 additions.

1. ``q_sim_ivf_pq`` — the registered IVFADC serving rung (the r16
   staged library's one-decorator registration, verdict item 2).
   Cross-engine oracle equality for the underlying composition is
   already law-tested (test_r16_ops.py: ivf_pq / ivf_pq_rerank); here
   we pin the REGISTERED query's output contract — the exact column
   set, types, per-query row bound, and identity with the library
   composition at the registered defaults — so a future refactor of
   either side cannot silently fork them.
2. bench.py end-loadavg contamination guard (verdict item 4) is
   covered in tests/test_bench_contract.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark import registry
from proof_of_concept___cdc_w_iceberg_spark.ext import ann
from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load


def test_q_sim_ivf_pq_registered_contract(spark, sf_dir):
    qs = registry.queries()
    df = qs["q_sim_ivf_pq"](spark, sf_dir)
    assert set(df.columns) == {"query_id", "cand_id", "dot", "rn"}
    types = dict(df.dtypes)
    assert types["rn"] == "bigint"
    assert types["dot"] == "double"
    rows = df.collect()
    assert len(rows) > 0
    per_q = {}
    for r in rows:
        assert 1 <= r.rn <= 5
        assert r.query_id % 100 == 0
        assert r.cand_id != r.query_id
        per_q.setdefault(r.query_id, []).append(r.rn)
    for q, rns in per_q.items():
        assert sorted(rns) == list(range(1, len(rns) + 1)), q


def test_q_sim_ivf_pq_equals_library_composition(spark, sf_dir):
    """The registered fn IS ivf_pq_build -> ivf_pq_rerank_topk at the
    library defaults — no registered-only drift."""
    qs = registry.queries()
    got = sorted(map(tuple, qs["q_sim_ivf_pq"](spark, sf_dir).collect()))
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cent, cb, codes = ann.ivf_pq_build(e)
    want = sorted(
        map(
            tuple,
            ann.ivf_pq_rerank_topk(
                e, cent, cb, codes, k=5,
                shortlist=ann.IVF_PQ_RERANK_SHORTLIST,
            )
            .select(
                "query_id", "cand_id",
                F.round("dot", 6).alias("dot"),
                F.col("rn").cast("long").alias("rn"),
            )
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_q_sim_ivf_pq_in_driver_window(sf_dir):
    """The r17 window spent its ONE free slot on this rung and kept
    the entire 48-row r10-stale block plus the promoted no-oracle
    rotation (q_ddl_create) inside the first 50 — the r16 verdict's
    exact window-budget arithmetic.

    Ledger-relative (r17 verdict item 1): the original pin asserted
    the LIVE window, which is only the r17 window while the newest
    artifact on disk is CORRECTNESS_r16 — the moment the driver drops
    CORRECTNESS_r17.json the staleness rotation re-sorts and the pin
    falsifies itself. Once that artifact exists it IS the permanent
    record of what the driver checked (json.load preserves the
    driver's key order), so assert against it instead; before it
    lands, assert the live window the driver is about to run."""
    import json
    import os

    art = os.path.join(os.path.dirname(registry.__file__), os.pardir,
                       "CORRECTNESS_r17.json")
    if os.path.exists(art):
        with open(art) as f:
            window = list(json.load(f))
    else:
        window = list(registry.queries())[:50]
    assert len(window) == 50
    assert window[0] == "q_sim_ivf_pq"
    assert window[1] == "q_ddl_create"
    r10_block = {
        "q_agg_argmax", "q_agg_bool", "q_agg_mode", "q_agg_moments",
        "q_anomaly", "q_attribution", "q_cdc_apply_evolve",
        "q_cdc_apply_partitioned", "q_cdc_compact_log",
        "q_cdc_dead_letter", "q_cdc_drift_psi", "q_cdc_expire_snapshots",
        "q_cdc_fanout", "q_cdc_incremental_agg", "q_cdc_incremental_join",
        "q_cdc_lag", "q_cdc_merge_on_read", "q_cdc_offset_gaps",
        "q_cdc_partial_update", "q_cdc_scd2", "q_cdc_snapshot_log",
        "q_cdc_vacuum_orphans", "q_cdc_wap", "q_dedup_containment",
        "q_dedup_eval", "q_dedup_fuzzy", "q_dedup_incremental",
        "q_dedup_normalized", "q_dedup_semantic",
        "q_dedup_substr_incremental", "q_dedup_substr_rewrite",
        "q_join_asof_forward", "q_join_interval", "q_join_nullsafe",
        "q_join_range_bucketed", "q_join_temporal", "q_stream_compact",
        "q_stream_partial_update", "q_stream_stream_join", "q_tpch_q11",
        "q_tpch_q15", "q_udf_pandas", "q_udf_python", "q_udtf_explode",
        "q_udtf_python", "q_unpivot", "q_win_first_last",
        "q_win_percentile",
    }
    assert r10_block <= set(window), sorted(r10_block - set(window))


# --- r16 ADVICE fixes (versioned / branches / specs) ----------------------

import pytest


def _mk_mirror(spark, tmp_path, cls=None):
    from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import (
        SnapshotMirror,
    )

    cls = cls or SnapshotMirror
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v"))
    m = cls(spark, str(tmp_path / "mirror"), keys=["k"], n_buckets=4)
    m.init(df)
    return m, df


def _batch(df, lo, hi, ts, mul=2.0):
    return df.filter(F.col("k").between(lo, hi)).select(
        "k",
        (F.col("v") * mul).alias("v"),
        F.lit("u").alias("op"),
        F.lit(ts).cast("long").alias("ts_ms"),
        F.col("k").cast("long").alias("off"),
    )


def test_versions_ignores_stray_manifest_files(spark, tmp_path):
    """A stray v2.json.bak / editor dropping in manifests/ must be
    invisible to the version walk (the old int(n[1:-5]) parse raised
    ValueError on it), in BOTH versions() and _all_versions()."""
    import os

    m, df = _mk_mirror(spark, tmp_path)
    m.apply(_batch(df, 0, 9, 2000))
    before_live = m.versions()
    before_all = m._all_versions()
    mdir = os.path.join(m.path, "manifests")
    for stray in ("v2.json.bak", "foo.json", "vX.json", "v1.json.tmp99"):
        with open(os.path.join(mdir, stray), "w") as f:
            f.write("{}")
    assert m.versions() == before_live
    assert m._all_versions() == before_all


def test_versions_surfaces_real_io_errors(spark, tmp_path, monkeypatch):
    """Only a missing manifests dir reads as 'no versions'; a
    permissions failure must SURFACE, not masquerade as 'mirror has
    no committed version' (the old blanket OSError swallow)."""
    import os

    m, _df = _mk_mirror(spark, tmp_path)
    real_listdir = os.listdir

    def deny(path):
        if "manifests" in str(path):
            raise PermissionError(13, "denied", str(path))
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", deny)
    with pytest.raises(PermissionError):
        m.versions()


def test_branch_create_from_just_dropped_ref_is_valueerror(spark, tmp_path):
    """The documented contract survives the refs()-then-read race: a
    source ref vanishing between check and read surfaces as ValueError,
    never a raw FileNotFoundError (r16 advice — simulated by dropping
    the ref first; the fixed code path is the same single read)."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.branches import (
        BranchedMirror,
    )

    m, _df = _mk_mirror(spark, tmp_path, cls=BranchedMirror)
    m.branch_create("tmp")
    m.drop_branch("tmp")
    with pytest.raises(ValueError, match="does not exist"):
        m.branch_create("b2", from_ref="tmp")


def test_spec_rides_top_level_and_buckets_are_paths(spark, tmp_path):
    """The manifest stores the CURRENT spec as manifest['spec'] and
    every bucket value is a real data directory — no sentinel entry a
    base-class consumer (expire's referenced-dir walk, the orphan
    vacuum) could trip over (r16 advice)."""
    import os

    from proof_of_concept___cdc_w_iceberg_spark.cdc.specs import (
        SpecEvolvingMirror,
    )

    m, df = _mk_mirror(spark, tmp_path, cls=SpecEvolvingMirror)
    m.apply(_batch(df, 0, 9, 2000))
    m.evolve_spec(8)
    m.apply(_batch(df, 5, 14, 3000))
    man = m._load_manifest(m.current_version())
    assert man["spec"] == 8
    assert "__spec__" not in man["buckets"]
    for label, d in man["buckets"].items():
        n, b = label.split(":")
        assert int(n) in (4, 8) and 0 <= int(b) < int(n)
        assert os.path.isdir(d), (label, d)
    # expire() walks those values as paths (the referenced-dir scan
    # that motivated the advice) — run it to prove the base consumer
    # digests a spec-evolving manifest.
    m.expire(keep_last=2)
    got = sorted(map(tuple, m.read().drop("__bucket").collect()))
    assert len(got) == 40


def test_spec_apply_pinned_base_commits_branch_shape(spark, tmp_path):
    """apply(base_version=non-head) is the BRANCH-commit contract: it
    must allocate a free version parented on the pin (linear=False),
    not die on an unretryable CommitConflictError (r16 advice: the
    always-linear _commit_spec made the inherited contract unusable
    on this subclass)."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.specs import (
        SpecEvolvingMirror,
    )

    m, df = _mk_mirror(spark, tmp_path, cls=SpecEvolvingMirror)
    v0 = m.current_version()
    m.apply(_batch(df, 0, 9, 2000))       # head moves to v1
    v = m.apply(_batch(df, 10, 19, 3000), base_version=v0)  # pin v0
    assert v in m._all_versions()
    man = m._load_manifest(v)
    assert man["base"] == v0, "pinned commit must parent on the pin"
    assert man["spec"] == 4
    # The pinned snapshot contains ONLY its own batch over v0.
    got = {r["k"]: r["v"] for r in m.read(version=v).collect()}
    assert got[15] == 15 * 1.5 * 2.0 and got[5] == 5 * 1.5


def test_prepare_batch_is_materialized(spark, tmp_path):
    """prepare's compacted batch reads as cache blocks — a
    retry (or the first merge) must never re-run the compaction window
    (r16 advice: the hoist alone left it lazy). Since r18 the
    materialization is persist, not localCheckpoint (r17 advice:
    checkpoint blocks were freeable only by ContextCleaner GC), so the
    pinned shape is a cache scan plus an owner-released lifetime."""
    m, df = _mk_mirror(spark, tmp_path)
    with m.prepare(_batch(df, 0, 9, 2000)) as batch:
        plan = batch.latest._jdf.queryExecution().executedPlan().toString()
        # Consumers (the merge, every retry) scan the in-memory
        # relation; the window lives only INSIDE the cached plan.
        assert "InMemoryTableScan" in plan, plan
        assert batch.rows and sum(batch.rows.values()) == 10
        # The collect in prepare already materialized the cache.
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert any(i.numCachedPartitions() > 0 for i in infos)


def test_apply_releases_batch_cache(spark, tmp_path):
    """apply()'s finally unpersists the prepared batch the moment the
    commit lands (r17 advice): a long-lived driver doing many applies
    must not accumulate executor storage until ContextCleaner GC. Same
    law for the ref-CAS loop (branches) and the spec-evolving apply."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.branches import (
        BranchedMirror,
    )
    from proof_of_concept___cdc_w_iceberg_spark.cdc.specs import (
        SpecEvolvingMirror,
    )

    def cached_ids():
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        }

    # Per-id, not a global count (r18 advice): the session is
    # suite-shared and ContextCleaner may asynchronously collect an
    # UNRELATED earlier test's garbage RDD while the apply runs (seen
    # live in r18: 9 == 10 failure), so a count compare is flaky in
    # one direction and blind in the other. Tracking ids keeps the
    # check two-sided: (a) apply leaves no NEW cached RDD behind (the
    # leak law), and (b) apply does not unpersist a cached RDD it does
    # not own — proven via a sentinel the test still references, which
    # ContextCleaner therefore never touches.
    for cls in (None, BranchedMirror, SpecEvolvingMirror):
        sub = cls.__name__ if cls else "snap"
        m, df = _mk_mirror(spark, tmp_path / sub, cls=cls)
        sentinel = spark.sparkContext.parallelize(range(8), 2).cache()
        sentinel.count()
        base = cached_ids()
        assert sentinel.id() in base
        try:
            m.apply(_batch(df, 0, 9, 2000))
            after = cached_ids()
            assert not (after - base), (cls, after - base)
            assert sentinel.id() in after, cls
            if cls is BranchedMirror:
                m.branch_create("b")
                m.apply_to_branch("b", _batch(df, 10, 19, 3000))
                after = cached_ids()
                assert not (after - base), (cls, after - base)
                assert sentinel.id() in after, cls
        finally:
            sentinel.unpersist()


# --- staged r18 rungs: registration is one decorator ----------------------


def test_evolve_spec_staged_rung_matches_oracle(spark, duck, sf_dir):
    """cdc_evolve_spec_query (staged q_cdc_evolve_spec) hash-matches
    its named oracle (WAP_RACE_MIRROR_SQL, the sequential two-batch
    apply) at the fixture scale: spec evolution + lazy migration +
    migrate() are content-invisible end to end, so the r18
    registration is a decorator flip with zero new risk."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc import queries as cq

    got = sorted(map(tuple, cq.cdc_evolve_spec_query(spark, sf_dir)
                     .collect()))
    want = sorted(map(tuple, duck.sql(cq.WAP_RACE_MIRROR_SQL).fetchall()))
    assert len(got) == len(want) > 0
    assert got == want


def test_sim_pq_staged_rung_matches_oracle(spark, duck, sf_dir):
    """sim_pq_query (staged q_sim_pq) hash-matches PQ_RERANK_SQL at
    the registered defaults (train iters=2 -> encode -> ADC shortlist
    50 -> exact rerank top-5)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext import ann

    got = sorted(map(tuple, ann.sim_pq_query(spark, sf_dir).collect()))
    want = sorted(map(tuple, duck.sql(ann.PQ_RERANK_SQL).fetchall()))
    assert len(got) == len(want) > 0
    assert got == want


def test_hybrid_rrf_staged_rung_matches_oracle(spark, duck, sf_dir):
    """hybrid_rrf_query (staged q_search_hybrid, r19 slot) hash-matches
    HYBRID_RRF_SQL: BM25 arm + dense-cosine arm + reciprocal rank
    fusion, rank arithmetic identical in both engines."""
    from proof_of_concept___cdc_w_iceberg_spark.ext import text

    df = text.hybrid_rrf_query(spark, sf_dir)
    cols = sorted(df.columns)
    got = sorted(map(tuple, df.select(*cols).collect()))
    rel = duck.sql(text.HYBRID_RRF_SQL)
    order = [rel.columns.index(c) for c in sorted(rel.columns)]
    want = sorted(tuple(r[i] for i in order) for r in rel.fetchall())
    assert sorted(rel.columns) == cols
    assert len(got) == len(want) > 0
    assert got == want


def test_hybrid_rrf_semantics(spark, sf_dir):
    """RRF fusion laws on the staged rung: a doc ranked by BOTH arms
    outscores the same ranks taken singly; scores are bounded by
    2/(K+1); every returned doc carries at least one rank; the dense
    arm never returns the query vector itself."""
    from proof_of_concept___cdc_w_iceberg_spark.ext import text

    rows = text.hybrid_rrf_query(spark, sf_dir).collect()
    assert 0 < len(rows) <= text.HYBRID_TOP
    for r in rows:
        assert r.r_lex is not None or r.r_dense is not None
        both = (1.0 / (text.RRF_K + (r.r_lex or 10**9))
                + 1.0 / (text.RRF_K + (r.r_dense or 10**9)))
        assert abs(r.rrf - round(both, 9)) < 1e-9
        assert r.rrf <= 2.0 / (text.RRF_K + 1) + 1e-12
        if r.r_dense is not None:
            assert r.doc_id != text.HYBRID_QVEC


def test_bm25_incremental_staged_rung(spark, duck, sf_dir):
    """bm25_incremental_query (staged q_bm25_incremental, r20 slot)
    hash-matches INC_BM25_SQL — the full REBUILD over the post-churn
    corpus — so maintenance == rebuild holds through the entire
    ranking (the search-index IVM law)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext import text

    df = text.bm25_incremental_query(spark, sf_dir)
    cols = sorted(df.columns)
    got = sorted(map(tuple, df.select(*cols).collect()))
    rel = duck.sql(text.INC_BM25_SQL)
    order = [rel.columns.index(c) for c in sorted(rel.columns)]
    want = sorted(tuple(r[i] for i in order) for r in rel.fetchall())
    assert sorted(rel.columns) == cols
    assert len(got) == len(want) > 0
    assert got == want


def test_bm25_incremental_semantics(spark, sf_dir):
    """IVM semantics on the staged rung: deleted docs (%7) never rank;
    the two inserted query-term-dense docs DO rank; and the maintained
    state matches a from-scratch _bm25_state build of the final corpus
    relation-for-relation (not just through the ranking)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext import text
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    rows = text.bm25_incremental_query(spark, sf_dir).collect()
    ids = {r.doc_id for r in rows}
    assert not any(i % 7 == 0 for i in ids if i < 10_000_000)
    assert {i for i, _ in text.INC_BM25_INS} <= ids, ids

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    final = (
        docs.filter((F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 5 != 0))
        .unionByName(
            docs.filter(
                (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 0)
            ).select(
                "doc_id",
                F.concat(F.col("text"),
                         F.lit(" vector merge vector")).alias("text"),
            )
        )
        .unionByName(
            spark.createDataFrame(list(text.INC_BM25_INS),
                                  "doc_id long, text string")
        )
    )
    dl_r, tf_r = text._bm25_state(final)
    # Re-derive the maintained state exactly as the query does.
    dl0, tf0 = text._bm25_state(docs)
    keys = docs.filter(
        (F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 5 == 0)
    ).select("doc_id").unionByName(
        spark.createDataFrame([(i,) for i, _ in text.INC_BM25_INS],
                              "doc_id long")
    )
    ups = final.join(keys, "doc_id", "semi")
    dl_b, tf_b = text._bm25_state(ups)
    dl_m = dl0.join(keys, "doc_id", "left_anti").unionByName(dl_b)
    tf_m = tf0.join(keys, "doc_id", "left_anti").unionByName(tf_b)
    assert sorted(map(tuple, dl_m.collect())) == \
        sorted(map(tuple, dl_r.collect()))
    assert sorted(map(tuple, tf_m.collect())) == \
        sorted(map(tuple, tf_r.collect()))
