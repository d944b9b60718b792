"""Round-6 regression tests: the q_herfindahl representation fix
class, the merge-on-read torn-publish self-heal, and plan laziness."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark import registry

QS = registry.queries()


def test_herfindahl_emits_double(spark, sf_dir):
    """The r05 driver failure: hhi left Spark as DECIMAL(27,6) while
    the oracle's ROUND returned DOUBLE — values bit-matched, the hash
    didn't. The final-cast convention is now load-bearing."""
    df = QS["q_herfindahl"](spark, sf_dir)
    assert dict(df.dtypes)["hhi"] == "double"


def test_mor_torn_publish_self_heals(spark, sf_dir, tmp_path):
    """The torn states a crash can leave around a merge-on-read commit —
    an older delta generation beside the newest (crash after the rename,
    before the old one's removal) and a staged generation never renamed
    into place — do not leak into ``read()``, and the next commit
    clears them."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import (
        apply_changes,
        mirror_diff,
    )
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import (
        DELTA_DIR,
        BucketedMirror,
    )

    snap = spark.range(2000).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name"),
        (F.col("id") * 1.0).alias("bal"))
    m = BucketedMirror(spark, str(tmp_path / "mirror"), keys=["k"])
    m.init(snap)
    schema = "k long, name string, bal double, op string, ts_ms long, off long"
    batches = [spark.createDataFrame(
        [(k, f"b{i}", float(i), "u", 10 * (i + 1), k)
         for k in range(i, 60, 3)], schema) for i in range(3)]
    root = os.path.join(m.path, DELTA_DIR)
    m.apply(batches[0], tag="b0")
    shutil.copytree(os.path.join(root, "v1"), str(tmp_path / "v1"))
    m.apply(batches[1], tag="b1")
    assert os.listdir(root) == ["v2"]
    # Plant the torn states.
    shutil.copytree(str(tmp_path / "v1"), os.path.join(root, "v1"))
    staged = f"{m.path}_b2_delta_staged"
    shutil.copytree(str(tmp_path / "v1"), staged)
    expected = apply_changes(apply_changes(snap, batches[0], keys=["k"]),
                             batches[1], keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0
    m.apply(batches[2], tag="b2")
    assert os.listdir(root) == ["v3"]
    assert not os.path.exists(staged)
    expected = apply_changes(expected, batches[2], keys=["k"])
    assert mirror_diff(m.read(), expected).count() == 0
    # And the registered merge-on-read query still runs.
    assert QS["q_cdc_merge_on_read"](spark, sf_dir).count() > 0


def test_agg_mad_invariants(spark, sf_dir):
    """MAD is nonnegative and never exceeds the group's max deviation;
    at least half the group lies within [med-mad, med+mad] by the
    median property (up to the discrete two-row average)."""
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    out = {r["event_type"]: r for r in QS["q_agg_mad"](spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    assert out
    for et, r in out.items():
        assert r["mad"] >= 0.0
        grp = ev.filter(F.col("event_type") == et)
        n_in = grp.filter(
            F.abs(F.col("value") - F.lit(r["median"])) <= F.lit(r["mad"])
        ).count()
        assert n_in * 2 >= r["n"] - 1, f"{et}: MAD does not cover half the group"


def test_agg_mad_degenerate_groups(spark, tmp_path):
    """Single-row groups have MAD 0 and median == the value; two-row
    groups average the pair exactly (commutative double add)."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.aggregates import q_agg_mad

    df = spark.createDataFrame(
        [
            (1, "solo", 7.25),
            (2, "pair", 1.0),
            (3, "pair", 2.0),
            (4, "tied", 5.0),
            (5, "tied", 5.0),
            (6, "tied", 5.0),
        ],
        "event_id long, event_type string, value double",
    )
    d = tmp_path / "edge"
    d.mkdir()
    df.write.parquet(str(d / "events.parquet"))
    out = {r["event_type"]: r for r in q_agg_mad(spark, str(d)).collect()}
    assert out["solo"]["median"] == 7.25 and out["solo"]["mad"] == 0.0
    assert out["pair"]["median"] == 1.5 and out["pair"]["mad"] == 0.5
    assert out["tied"]["median"] == 5.0 and out["tied"]["mad"] == 0.0


def test_agg_winsorized_invariants(spark, sf_dir):
    """Clip bounds are real order statistics (p05 <= p95) and the
    winsorized mean lies inside them."""
    rows = QS["q_agg_winsorized"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["p05"] <= r["p95"]
        assert r["p05"] <= r["mean_winsorized"] <= r["p95"]


def test_robust_outliers_matches_duckdb(spark, duck, sf_dir):
    """The staged-for-r7 MAD outlier gate already passes the exact
    oracle compare it will face once registered."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.quality import (
        OUTLIERS_SQL,
        q_quality_outliers,
    )

    got = (
        q_quality_outliers(spark, sf_dir)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = duck.sql(OUTLIERS_SQL).df().sort_values("event_type").reset_index(drop=True)
    want = want[got.columns]
    assert got.equals(want.astype(got.dtypes.to_dict())), (
        f"mismatch:\n{got}\nvs\n{want}"
    )
    assert (got["n_outliers"] <= got["n"]).all()


def _union_find(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id canonicalization
    return {x: find(x) for x in range(n)}


def test_components_logn_matches_union_find_on_random_graphs(spark):
    """Large-star/small-star == a pure-Python union-find ground truth
    on seeded random graphs (multi-component, self-loops filtered,
    duplicate edges), plus one cross-check against min-label
    propagation on a shallow graph."""
    import random

    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        connected_components,
        connected_components_logn,
    )

    rng = random.Random(406)
    for trial in range(8):
        n = rng.randint(2, 40)
        n_edges = rng.randint(0, n)
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)]
        nodes = spark.range(n).select(F.col("id").alias("node"))
        pairs = spark.createDataFrame(raw or [(0, 0)], "id_a long, id_b long")
        want = _union_find(n, [e for e in raw if e[0] != e[1]])
        got = {
            r["node"]: r["comp"]
            for r in connected_components_logn(nodes, pairs).collect()
        }
        assert got == want, f"trial {trial} (n={n}, edges={raw})"
        spark.catalog.clearCache()
    # Shallow graph: both Spark forms agree with each other too.
    nodes = spark.range(8).select(F.col("id").alias("node"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (6, 5)], "id_a long, id_b long"
    )
    a = {r["node"]: r["comp"] for r in connected_components(nodes, pairs).collect()}
    b = {r["node"]: r["comp"] for r in connected_components_logn(nodes, pairs).collect()}
    assert a == b == _union_find(8, [(0, 1), (1, 2), (4, 5), (6, 5)])
    spark.catalog.clearCache()


def test_components_forms_agree_on_unseen_endpoints(spark):
    """Edge endpoints absent from the node relation surface in BOTH
    forms (the simple propagation generates them; the star form keeps
    them via its full outer join)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        connected_components,
        connected_components_logn,
    )

    nodes = spark.createDataFrame([(0,)], "node long")
    pairs = spark.createDataFrame([(0, 5)], "id_a long, id_b long")
    a = {r["node"]: r["comp"] for r in connected_components(nodes, pairs).collect()}
    b = {r["node"]: r["comp"] for r in connected_components_logn(nodes, pairs).collect()}
    assert a == b == {0: 0, 5: 0}
    spark.catalog.clearCache()


def test_components_logn_deep_path(spark):
    """A 120-node path has diameter 119 — label propagation's default
    20-round cap can't finish it, the log-round form must (and both
    ends collapse to node 0)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        connected_components_logn,
    )

    n = 120
    nodes = spark.range(n).select(F.col("id").alias("node"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r["node"]: r["comp"] for r in connected_components_logn(nodes, pairs).collect()}
    assert got == {i: 0 for i in range(n)}
    spark.catalog.clearCache()


def test_components_apply_equals_full_recompute(spark):
    """Incremental connected-components under edge additions == full
    recompute, including chains that merge components ACROSS earlier
    batches and brand-new nodes arriving as edge endpoints."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        connected_components,
        connected_components_apply,
    )

    nodes = spark.range(12).select(F.col("id").alias("node"))
    labels = nodes.select("node", F.col("node").alias("comp"))
    b1 = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (8, 9)], "id_a long, id_b long"
    )
    # batch 2: merges {1,2}+{3,4} via 2-3, chains {5,6} to {8,9} via
    # 6-8, and introduces node 20 (absent from labels) attached to 9.
    b2 = spark.createDataFrame(
        [(2, 3), (6, 8), (9, 20)], "id_a long, id_b long"
    )
    labels = connected_components_apply(labels, b1).persist()
    labels = connected_components_apply(labels, b2)

    all_nodes = nodes.unionByName(
        spark.createDataFrame([(20,)], "node long")
    )
    want = connected_components(all_nodes, b1.unionByName(b2))
    got = {r["node"]: r["comp"] for r in labels.collect()}
    exp = {r["node"]: r["comp"] for r in want.collect()}
    assert got == exp
    # Spot invariants: one component for {1,2,3,4}, one for {5,6,8,9,20}.
    assert len({got[1], got[2], got[3], got[4]}) == 1
    assert len({got[5], got[6], got[8], got[9], got[20]}) == 1
    assert got[0] == 0 and got[7] == 7 and got[10] == 10
    spark.catalog.clearCache()


def test_staged_percent_rank_matches_duckdb(spark, duck, sf_dir):
    from proof_of_concept___cdc_w_iceberg_spark.operators.windows import (
        PCTRANK_SQL,
        q_win_percent_rank,
    )

    got = (
        q_win_percent_rank(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    want = (
        duck.sql(PCTRANK_SQL)
        .df()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)[got.columns]
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    assert got["pct_rank"].between(0, 1).all() and got["cume"].between(0, 1).all()


def test_staged_theil_matches_duckdb(spark, duck, sf_dir):
    from proof_of_concept___cdc_w_iceberg_spark.operators.aggregates import (
        THEIL_SQL,
        q_agg_theil,
    )

    got = (
        q_agg_theil(spark, sf_dir)
        .toPandas()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    want = (
        duck.sql(THEIL_SQL)
        .df()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)[got.columns]
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    # Theil T is nonnegative and zero only under perfect equality.
    assert (got["theil_t"] >= 0).all()


def test_staged_iqr_matches_duckdb(spark, duck, sf_dir):
    from proof_of_concept___cdc_w_iceberg_spark.operators.aggregates import (
        IQR_SQL,
        q_agg_iqr,
    )

    got = (
        q_agg_iqr(spark, sf_dir)
        .toPandas()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    want = (
        duck.sql(IQR_SQL)
        .df()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)[got.columns]
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    assert (got["iqr"] >= 0).all() and (got["p25"] <= got["p75"]).all()


def test_band_index_apply_invisible_to_corpus_snapshot(spark, sf_dir, tmp_path):
    """Snapshot isolation for the shared band index: an apply-style
    append must extend only the live dir view — corpus-snapshot
    consumers (batch trio shingles, q_dedup_incremental's corpus side)
    keep reading the build's manifest file set unchanged."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        _snapshot,
        band_index_apply,
        band_index_build,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    base = band_index_build(spark, sf_dir)
    copy = str(tmp_path / "index_copy")
    shutil.copytree(base, copy)
    before = {
        sub: _snapshot(spark, copy, sub).count()
        for sub in ("shingles", "bands", "sizes")
    }
    batch = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 3)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    band_index_apply(spark, copy, batch)
    for sub in ("shingles", "bands", "sizes"):
        live = spark.read.parquet(os.path.join(copy, sub)).count()
        snap = _snapshot(spark, copy, sub).count()
        assert snap == before[sub], f"{sub}: snapshot leaked appended docs"
        assert live > snap, f"{sub}: append did not reach the live view"


def test_band_index_manifest_backfilled_on_stale_cache(spark, sf_dir):
    """An index dir built before manifests existed (marker present, no
    _MANIFEST.json) must get its snapshot frozen on the next build call
    — otherwise snapshot reads silently degrade to live-dir reads."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import band_index_build

    base = band_index_build(spark, sf_dir)
    mpath = os.path.join(base, "_MANIFEST.json")
    os.remove(mpath)
    assert band_index_build(spark, sf_dir) == base
    assert os.path.exists(mpath), "stale cache did not get a manifest backfill"


def test_row_passed_unknown_dict_format():
    """A driver row in a future/renamed format must count as passed —
    counting it failed would re-front every query forever."""
    assert registry._row_passed({"status": "ok", "hash": "abc"})
    assert registry._row_passed("weird")


def test_capped_stage_apply_equals_full_rebuild(spark, sf_dir):
    """Incremental capped-stage maintenance == full rebuild over
    corpus+batch, including across TWO sequential batches (the apply
    must compose) and across the cap boundary (shingles pushed over
    the cap by a batch drop out of the corpus side too)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        MAX_DOCS_PER_SHINGLE,
        capped_stage_apply,
    )
    from proof_of_concept___cdc_w_iceberg_spark.ext.shingles import doc_shingles
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    # Plant a guaranteed cap-boundary crossing: `cap` corpus docs and 2
    # batch docs all sharing one distinctive 5-gram, so its df sits AT
    # the cap in the corpus and crosses it when batch2 applies.
    cap = MAX_DOCS_PER_SHINGLE
    boundary = spark.range(cap + 2).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.concat(
            F.lit("zq wq xq yq vq filler"), F.col("id").cast("string")
        ).alias("text"),
    )
    docs = (
        load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(boundary)
    )
    real = F.col("doc_id") < 50_000_000
    corpus = docs.filter(
        ((F.col("doc_id") % 3 == 0) & real) | (F.col("doc_id") >= 50_000_000 + 2)
    )
    batch1 = docs.filter((F.col("doc_id") % 3 == 1) & real)
    batch2 = docs.filter(
        ((F.col("doc_id") % 3 == 2) & real)
        | F.col("doc_id").between(50_000_000, 50_000_001)
    )

    def build(d):
        sh = doc_shingles(d)
        hist = sh.groupBy("sh").agg(F.count("*").alias("df"))
        capped = sh.join(
            hist.filter(F.col("df") <= MAX_DOCS_PER_SHINGLE).select("sh"), "sh"
        )
        sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        return capped, sizes, hist

    sh_c, sizes, hist = build(corpus)
    sh_c, sizes, hist = capped_stage_apply(
        sh_c, sizes, hist, doc_shingles(batch1)
    )
    sh_c = sh_c.persist()
    sizes = sizes.persist()
    hist = hist.persist()
    sh_c, sizes, hist = capped_stage_apply(
        sh_c, sizes, hist, doc_shingles(batch2)
    )

    want_sh, want_sizes, want_hist = build(docs)
    for got, want, what in (
        (sh_c, want_sh, "capped shingles"),
        (sizes, want_sizes, "sizes"),
        (hist, want_hist, "df histogram"),
    ):
        assert got.exceptAll(want).count() == 0, f"{what}: extra rows"
        assert want.exceptAll(got).count() == 0, f"{what}: missing rows"
    # The boundary case actually fired: at least one shingle crossed
    # the cap between the corpus-only and full builds.
    corpus_hist = doc_shingles(corpus).groupBy("sh").agg(F.count("*").alias("df"))
    crossed = (
        corpus_hist.filter(F.col("df") <= MAX_DOCS_PER_SHINGLE)
        .join(
            want_hist.filter(F.col("df") > MAX_DOCS_PER_SHINGLE).select("sh"), "sh"
        )
        .count()
    )
    assert crossed > 0, "fixture exercised no cap-boundary crossing"
    spark.catalog.clearCache()


def test_funnel_latency_plan_is_lazy(spark, sf_dir):
    """Registered queries are plans, not jobs: constructing
    q_funnel_latency must not run a Spark job (the viewer count is a
    broadcast 1-row aggregate, not an eager .count())."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = QS["q_funnel_latency"](spark, sf_dir)
    after = set(tracker.getJobIdsForGroup(None) or [])
    # Every spark.read.parquet costs one footer/schema job — that's
    # construction overhead shared by ALL queries (the single load()
    # here), NOT the bug. The old eager viewers.count() ran a full
    # aggregation job on top; assert that never comes back.
    assert len(after - before) <= 1, (
        f"plan construction ran {len(after - before)} jobs — an eager "
        "action snuck back in"
    )
    row = df.collect()[0]
    assert row["n_viewers"] >= row["n_converted"] > 0
    assert row["avg_delay_s"] >= 0.0 and row["max_delay_s"] >= 0


def test_staged_changefeed_matches_duckdb_and_roundtrips(spark, duck, sf_dir):
    """The staged snapshot changefeed: exact SQL parity, plus the
    defining round-trip law — applying the feed to the old snapshot
    reproduces the new mirror exactly."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import (
        apply_changes,
        mirror_diff,
    )
    from proof_of_concept___cdc_w_iceberg_spark.cdc.queries import (
        CHANGEFEED_SQL,
        q_cdc_changefeed,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.cdc_fixtures import (
        changelog,
    )

    feed = q_cdc_changefeed(spark, sf_dir).persist()
    got = (
        feed.toPandas().sort_values(["k", "op"]).reset_index(drop=True)
    )
    want = (
        duck.sql(CHANGEFEED_SQL).df().sort_values(["k", "op"]).reset_index(drop=True)
    )[got.columns]
    assert got.equals(want.astype(got.dtypes.to_dict()))
    assert set(got["op"]) <= {"c", "u", "d"} and len(got) > 0
    # Round trip: old + feed == new (compact_latest is the canonical
    # mirror primitive — no inline re-implementation).
    from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import compact_latest

    ch = changelog(spark, sf_dir)
    old = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    events = feed.select(
        "k",
        F.col("after_name").alias("name"),
        F.col("after_bal").alias("bal"),
        "op",
        F.lit(1).alias("ts_ms"),
        F.lit(1).alias("off"),
    )
    rebuilt = apply_changes(old, events, ["k"])
    new = compact_latest(ch, ["k"]).filter(F.col("op") != "d").select(
        "k", "name", "bal"
    )
    assert mirror_diff(rebuilt, new).count() == 0
    feed.unpersist()


def test_staged_weighted_median_matches_duckdb(spark, duck, sf_dir):
    from proof_of_concept___cdc_w_iceberg_spark.operators.aggregates import (
        WMEDIAN_SQL,
        q_agg_weighted_median,
    )

    got = (
        q_agg_weighted_median(spark, sf_dir)
        .toPandas()
        .sort_values("l_returnflag")
        .reset_index(drop=True)
    )
    want = (
        duck.sql(WMEDIAN_SQL)
        .df()
        .sort_values("l_returnflag")
        .reset_index(drop=True)[got.columns]
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    # The weighted median splits the weight BOTH ways (exact decimal
    # sums — the operator's own weight definition — so no epsilon):
    # strictly-below weight <= half, and strictly-above weight < half
    # (the median row itself pushes the cumulative past the midpoint).
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    wd = F.col("l_quantity").cast("decimal(18,2)")
    for r in got.itertuples(index=False):
        grp = li.filter(F.col("l_returnflag") == r.l_returnflag)
        below = float(
            grp.filter(F.col("l_extendedprice") < r.weighted_median)
            .agg(F.sum(wd))
            .first()[0]
            or 0
        )
        above = float(
            grp.filter(F.col("l_extendedprice") > r.weighted_median)
            .agg(F.sum(wd))
            .first()[0]
            or 0
        )
        assert below * 2 <= r.total_weight, "lower side exceeds half"
        assert above * 2 < r.total_weight, (
            "upper side holds at least half — median is an under-estimate"
        )
