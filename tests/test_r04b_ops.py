"""Semantic invariants for the second r04 operator batch
(q_join_bloom, q_sketch_cms, q_win_distinct, q_pattern_match,
q_cdc_compact_log, q_cdc_lag, q_knn_graph, q_embed_outlier) —
properties the DuckDB hash-compare can't state directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark import registry
from proof_of_concept___cdc_w_iceberg_spark.cdc.queries import (
    COMPACT_HORIZON_MS,
    LAG_WATERMARK_OFF,
)
from proof_of_concept___cdc_w_iceberg_spark.ext.embeddings import OUTLIER_FACTOR
from proof_of_concept___cdc_w_iceberg_spark.ext.similarity import KNN_K
from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import BLOOM_M
from proof_of_concept___cdc_w_iceberg_spark.sources.cdc_fixtures import changelog
from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

QS = registry.queries()


def test_bloom_reduction_is_exact(spark, sf_dir):
    """The Bloom prefilter admits false positives but NEVER drops a
    true match, so the post-join aggregate equals the plain join's."""
    out = QS["q_join_bloom"](spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    plain = (
        o.join(
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )
    got = {r["o_orderpriority"]: r["n_orders"] for r in out.collect()}
    want = {r["o_orderpriority"]: r["n_orders"] for r in plain.collect()}
    assert got == want


def test_bloom_position_relation_is_bounded(spark, sf_dir):
    """The broadcast reduction side is capped at m rows regardless of
    dimension cardinality — the constant-size-filter property."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import _bloom_pos_sql

    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    n = (
        c.select(F.expr(_bloom_pos_sql(0, "c_custkey", "STRING")).alias("p"))
        .distinct()
        .count()
    )
    assert n <= BLOOM_M


def test_cms_estimates_never_undercount(spark, sf_dir):
    """Count-min error is one-sided: est ≥ exact for every key."""
    rows = QS["q_sketch_cms"](spark, sf_dir).collect()
    assert rows, "heavy-hitter report empty"
    assert all(r["est_cnt"] >= r["exact_cnt"] for r in rows)


def test_win_distinct_running_reaches_partition_total(spark, sf_dir):
    out = QS["q_win_distinct"](spark, sf_dir)
    # running count is ≤ the partition-wide count everywhere and
    # reaches it at the partition's last row
    assert out.filter(F.col("n_prio_run") > F.col("n_prio_part")).count() == 0
    finals = out.groupBy("o_custkey").agg(
        F.max("n_prio_run").alias("run_max"), F.max("n_prio_part").alias("part")
    )
    assert finals.filter(F.col("run_max") != F.col("part")).count() == 0
    # partition-wide count equals an independent exact distinct count
    o = load(spark, sf_dir, "orders")
    exact = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("nd")
    )
    joined = finals.join(exact, "o_custkey")
    assert joined.filter(F.col("part") != F.col("nd")).count() == 0


def test_pattern_match_flags_are_consistent(spark, sf_dir):
    out = QS["q_pattern_match"](spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    assert (
        out.agg(F.sum("n_events")).first()[0] == ev.count()
    ), "per-user event counts must partition the table"
    # independently recompute the funnel regex per user on the driver
    j = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: F.substring(s["event_type"], 1, 1),
                ),
                "",
            ).alias("journey")
        )
        .collect()
    )
    import re

    expect = {r["user_id"]: bool(re.search("v.*c.*p", r["journey"])) for r in j}
    got = {r["user_id"]: r["funnel_hit"] for r in out.collect()}
    assert got == expect


def test_compact_log_view_equals_apply_mirror(spark, sf_dir):
    """Compaction keeps the log replayable: dropping its tombstones
    yields exactly the latest-wins table view (q_cdc_apply)."""
    compacted = QS["q_cdc_compact_log"](spark, sf_dir)
    assert compacted.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    live = compacted.filter(F.col("op") != "d").select("k", "name", "bal")
    mirror = QS["q_cdc_apply"](spark, sf_dir).select("k", "name", "bal")
    assert live.exceptAll(mirror).count() == 0
    assert mirror.exceptAll(live).count() == 0
    # every surviving tombstone is within the retention horizon
    assert (
        compacted.filter(
            (F.col("op") == "d") & (F.col("ts_ms") < COMPACT_HORIZON_MS)
        ).count()
        == 0
    )


def test_lag_report_accounts_for_every_pending_event(spark, sf_dir):
    out = QS["q_cdc_lag"](spark, sf_dir).collect()
    ch = changelog(spark, sf_dir)
    pending = ch.filter(F.col("off") > LAG_WATERMARK_OFF).count()
    assert sum(r["lag_events"] for r in out) == pending
    for r in out:
        assert r["applied_off"] <= LAG_WATERMARK_OFF
        if r["lag_events"] > 0:
            assert r["latest_off"] > LAG_WATERMARK_OFF
            assert r["lag_ms"] >= 0


def test_knn_graph_is_blocked_and_k_bounded(spark, sf_dir):
    out = QS["q_knn_graph"](spark, sf_dir).persist()
    per_src = out.groupBy("src").count()
    assert per_src.filter(F.col("count") > KNN_K).count() == 0
    # every edge stays inside one coarse cell (label block)
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    edges = (
        out.join(e.withColumnRenamed("vec_id", "src").withColumnRenamed("label", "sl"), "src")
        .join(e.withColumnRenamed("vec_id", "dst").withColumnRenamed("label", "dl"), "dst")
    )
    assert edges.filter(F.col("sl") != F.col("dl")).count() == 0
    assert out.filter((F.col("cosine") < -1.000001) | (F.col("cosine") > 1.000001)).count() == 0
    out.unpersist()


def test_embed_outlier_threshold_holds(spark, sf_dir):
    # The flag law is the multiplied-out EXACT decimal comparison
    # n·dist2·100 > 105·Σdist2 (r18: double division/rounding left the
    # boundary cross-engine-nondeterministic; output dist2 is an exact
    # 6-dp decimal rendered as double, so casting back recovers it).
    out = QS["q_embed_outlier"](spark, sf_dir).persist()
    factor100 = int(round(OUTLIER_FACTOR * 100))
    avg = out.groupBy("label").agg(
        F.sum(F.col("dist2").cast("decimal(14,6)")).alias("sum_d"),
        F.count("*").alias("n_lab"),
    )
    joined = out.join(avg, "label")
    bad = joined.filter(
        F.col("is_outlier")
        != (
            F.col("dist2").cast("decimal(14,6)")
            * F.col("n_lab").cast("decimal(12,0)")
            * F.lit(100)
            > F.col("sum_d") * F.lit(factor100)
        )
    )
    assert bad.count() == 0
    n = out.count()
    n_out = out.filter("is_outlier").count()
    assert 0 < n_out < n / 2, "outliers must be a strict minority"
    out.unpersist()


def test_rollup_incremental_equals_direct(spark, sf_dir):
    """Partial re-aggregation law: monthly-from-daily == monthly-from-raw."""
    out = QS["q_rollup_incremental"](spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    direct = ev.groupBy(
        "event_type", F.trunc(F.col("ts").cast("date"), "month").alias("month")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    assert out.exceptAll(direct).count() == 0
    assert direct.exceptAll(out).count() == 0


def test_percentile_exact_matches_global_sort(spark, sf_dir):
    """The two-phase bucket algorithm returns the SAME k-th order
    statistic a global sort would."""
    import math

    from pyspark.sql import Window as W

    got = {r["p"]: r["value"] for r in QS["q_percentile_exact_dist"](spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem").select(F.col("l_extendedprice").alias("x"))
    n = li.count()
    ranked = li.withColumn("rn", F.row_number().over(W.orderBy("x")))
    for p in (0.5, 0.9, 0.99):
        k = int(math.ceil(p * n))
        want = ranked.filter(F.col("rn") == k).first()["x"]
        assert got[p] == want, f"p={p}: {got[p]} != {want}"
    assert got[0.5] <= got[0.9] <= got[0.99]


def test_attribution_credit_partitions_purchases(spark, sf_dir):
    """Linear attribution conserves credit: the per-type credit totals
    sum to the number of purchases that had ≥1 touch in-window."""
    rows = QS["q_attribution"](spark, sf_dir).collect()
    total_credit = sum(r["credit"] for r in rows)
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click"))
    attributed = (
        t.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ts") <= F.col("p_ts"))
            & (F.col("ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        )
        .select("p_id")
        .distinct()
        .count()
    )
    assert abs(total_credit - attributed) < 0.01


def test_drift_psi_terms_nonnegative_and_counts_tie_out(spark, sf_dir):
    """(p-q)·ln(p/q) ≥ 0 term-wise; bin counts partition both mirror
    states exactly."""
    rows = QS["q_cdc_drift_psi"](spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["psi_term"] >= -1e-9 for r in rows)
    mirror_n = QS["q_cdc_apply"](spark, sf_dir).count()
    assert sum(r["n_new"] for r in rows) == mirror_n


def test_zonemap_pruning_is_safe_and_effective(spark, sf_dir):
    """Zones the date predicate prunes contain NO matching rows
    (safety), and the date predicate prunes a majority of zones while
    the uncorrelated price predicate prunes almost none."""
    out = QS["q_zonemap_prune"](spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem")
    assert sum(r["n_rows"] for r in out) == li.count()
    pruned_date = [r for r in out if not r["scan_date_pred"]]
    for r in pruned_date:
        # re-check safety directly against the data in that zone's range
        n = li.filter(
            (F.col("l_shipdate") >= F.lit(str(r["d_min"])))
            & (F.col("l_shipdate") <= F.lit(str(r["d_max"])))
            & (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") <= F.lit("1995-12-31"))
        ).count()
        assert n == 0, f"zone {r['zone']} pruned but contains 1995 rows"
    n_zones = len(out)
    assert len(pruned_date) > n_zones // 2, "date clustering should prune most zones"
    scanned_price = sum(1 for r in out if r["scan_price_pred"])
    assert scanned_price > n_zones // 2, "uncorrelated predicate should prune little"


def test_activity_bitmap_popcount_and_bounds(spark, sf_dir):
    out = QS["q_activity_bitmap"](spark, sf_dir)
    bad = out.filter(F.bit_count("mask") != F.col("n_active"))
    assert bad.count() == 0, "popcount(mask) must equal distinct active days"
    lowbits = out.filter(
        (F.col("mask") % F.pow(F.lit(2.0), F.col("first_day") - 1).cast("long")) != 0
    )
    assert lowbits.count() == 0, "no bit may be set below first_day"
    over = out.filter(
        F.col("mask") >= F.pow(F.lit(2.0), F.col("last_day")).cast("long")
    )
    assert over.count() == 0, "no bit may be set above last_day"


def test_mmr_picks_are_distinct_pool_members_led_by_relevance(spark, sf_dir):
    from proof_of_concept___cdc_w_iceberg_spark.ext.similarity import (
        MMR_POOL,
        MMR_SELECT,
    )

    rows = sorted(QS["q_mmr_diversify"](spark, sf_dir).collect(), key=lambda r: r["step"])
    assert [r["step"] for r in rows] == list(range(1, MMR_SELECT + 1))
    ids = [r["cand_id"] for r in rows]
    assert len(set(ids)) == MMR_SELECT, "picks must be distinct"
    # step 1 is the pure-relevance argmax over the corpus (minus query)
    e = QS["q_sim_topk"]  # noqa: F841 — same corpus, different query set
    from proof_of_concept___cdc_w_iceberg_spark.ext.similarity import MMR_QUERY_ID
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load as _load
    emb = {r["vec_id"]: r["embedding"] for r in _load(spark, sf_dir, "embeddings").collect()}
    import math

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        return dot / math.sqrt(
            sum(float(x) ** 2 for x in a) * sum(float(y) ** 2 for y in b)
        )

    q = emb[MMR_QUERY_ID]
    best = max(
        ((vid, cos(v, q)) for vid, v in emb.items() if vid != MMR_QUERY_ID),
        key=lambda t: (round(t[1], 6), -t[0]),
    )
    assert ids[0] == best[0]
    assert len(ids) <= MMR_POOL


def test_centroid_classify_is_a_partition_of_the_corpus(spark, sf_dir):
    out = QS["q_centroid_classify"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "embeddings")
    assert sum(r["n"] for r in out) == e.count(), "every vector classified once"
    labels = {r["label"] for r in e.select("label").distinct().collect()}
    assert all(r["true_label"] in labels and r["pred_label"] in labels for r in out)


def test_temporal_join_respects_delete_gaps_and_reinserts(spark, sf_dir):
    out = QS["q_join_temporal"](spark, sf_dir).persist()
    # deleted-never-reinserted keys (k%7==0, k%21!=0) vanish for t >= 4000
    gap = out.filter(
        (F.col("k") % 7 == 0) & (F.col("k") % 21 != 0) & (F.col("t") >= 4000)
    )
    assert gap.count() == 0
    # reinserted keys (k%21==0 ⊂ k%7==0) reappear at t=5500 with the new image
    re_rows = out.filter((F.col("k") % 21 == 0) & (F.col("t") == 5500))
    if re_rows.count():
        assert re_rows.filter(~F.col("name").startswith("re_")).count() == 0
    # at most one version matches any probe
    assert out.groupBy("k", "t").count().filter(F.col("count") > 1).count() == 0
    out.unpersist()


def test_readability_agrees_with_driver_recompute(spark, sf_dir):
    import re as _re

    rows = QS["q_text_readability"](spark, sf_dir).limit(0).columns
    assert rows == ["doc_id", "lang", "n_words", "n_sents", "n_syll", "flesch"]
    sample = (
        QS["q_text_readability"](spark, sf_dir)
        .join(load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
        .limit(20)
        .collect()
    )
    for r in sample:
        words = max(len(_re.split(r"\s+", r["text"].strip())), 1)
        sents = max(len(_re.findall(r"[.!?]+", r["text"])), 1)
        syll = max(len(_re.findall(r"[aeiouy]+", r["text"].lower())), 1)
        assert (r["n_words"], r["n_sents"], r["n_syll"]) == (words, sents, syll)


def test_markov_rows_are_probability_distributions(spark, sf_dir):
    out = QS["q_markov_transitions"](spark, sf_dir)
    sums = out.groupBy("prev_type").agg(F.sum("p").alias("s"), F.sum("n").alias("n"))
    bad = sums.filter(F.abs(F.col("s") - 1.0) > 1e-4)
    assert bad.count() == 0, "each row of the transition matrix sums to ~1"
    ev = load(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert out.agg(F.sum("n")).first()[0] == ev.count() - n_users, (
        "transitions = events minus one sequence start per user"
    )


def test_cooccur_lift_is_symmetric_and_bounded(spark, sf_dir):
    rows = QS["q_event_cooccur"](spark, sf_dir).collect()
    assert all(r["type_a"] < r["type_b"] for r in rows), "canonical pair order"
    ev = load(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert all(0 < r["n_both"] <= n_users for r in rows)
    assert all(r["lift"] > 0 for r in rows)


def test_semantic_dedup_components_are_consistent(spark, sf_dir):
    out = QS["q_dedup_semantic"](spark, sf_dir).persist()
    e = load(spark, sf_dir, "embeddings")
    assert out.count() == e.count()
    # the component representative is a member and is canonical
    reps = out.filter(F.col("is_canonical") == 1).select(
        F.col("component").alias("rep")
    )
    comps = out.select("component").distinct()
    assert comps.join(reps, comps.component == reps.rep, "left_anti").count() == 0
    # component id == min member id
    mins = out.groupBy("component").agg(F.min("vec_id").alias("mn"))
    assert mins.filter(F.col("component") != F.col("mn")).count() == 0
    out.unpersist()


def test_wap_gate_passes_on_the_clean_fixture(spark, sf_dir):
    rows = {r["rule"]: r for r in QS["q_cdc_wap"](spark, sf_dir).collect()}
    assert set(rows) == {
        "unique_key", "non_null_key", "bal_range", "row_delta", "published_rows"
    }
    for rule in ("unique_key", "non_null_key", "bal_range", "row_delta"):
        assert rows[rule]["passed"] and rows[rule]["violations"] == 0
    mirror_n = QS["q_cdc_apply"](spark, sf_dir).count()
    assert rows["published_rows"]["violations"] == mirror_n
    assert rows["published_rows"]["passed"]


def test_merge_on_read_write_amplification_is_o_changes(spark, sf_dir,
                                                        tmp_path):
    """MOR's point: a commit writes only the mirror's delta, at most one
    row per changed key (O(changes)), never a base file — and the
    merge-on-read read still equals the copy-on-write mirror, for one
    commit and for the registered query's whole changelog."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import (
        apply_changes,
        mirror_diff,
    )
    from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import BucketedMirror

    ch = changelog(spark, sf_dir)
    snap = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    m = BucketedMirror(spark, str(tmp_path / "mirror"), keys=["k"])
    m.init(snap)
    base = m.partition_files()
    batch = ch.filter(F.col("ts_ms") == 3000)  # 5 % of the keys: no fold
    n_changes = batch.count()
    m.apply(batch)
    assert 0 < m.delta_rows <= n_changes, "writes bounded by batch"
    assert m.partition_files() == base, "base untouched"
    assert mirror_diff(m.read(), apply_changes(snap, batch, keys=["k"])
                       ).count() == 0
    mor = QS["q_cdc_merge_on_read"](spark, sf_dir)
    cow = QS["q_cdc_apply"](spark, sf_dir)
    assert mor.exceptAll(cow).count() == 0
    assert cow.exceptAll(mor).count() == 0


def test_ohlc_bounds_and_coverage(spark, sf_dir):
    out = QS["q_ts_ohlc"](spark, sf_dir).persist()
    bad = out.filter(
        (F.col("low") > F.col("high"))
        | (F.col("open") < F.col("low")) | (F.col("open") > F.col("high"))
        | (F.col("close") < F.col("low")) | (F.col("close") > F.col("high"))
    )
    assert bad.count() == 0
    ev = load(spark, sf_dir, "events")
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()
    out.unpersist()


def test_partial_update_applies_both_patches(spark, sf_dir):
    """The resurrection bug whole-row latest-wins would cause: a key
    patched on bal (ts 2000) then name (ts 3000) must keep BOTH."""
    out = QS["q_cdc_partial_update"](spark, sf_dir).persist()
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"), "c_name", "c_acctbal"
    )
    both = out.join(c, "k").filter(
        (F.col("k") % 20 == 0) & (F.col("k") % 7 != 0)
    )
    assert both.count() > 0
    wrong = both.filter(
        (F.col("name") != F.concat(F.col("c_name"), F.lit("!")))
        | (F.abs(F.col("bal") - (F.col("c_acctbal") + 500.0)) > 1e-9)
    )
    assert wrong.count() == 0, "both column patches must survive"
    assert out.filter(F.col("k") % 7 == 0).count() == 0, "deletes win"
    # untouched keys keep their snapshot image
    untouched = out.join(c, "k").filter(
        (F.col("k") % 10 != 0) & (F.col("k") % 4 != 0) & (F.col("k") % 7 != 0)
    )
    assert untouched.filter(
        (F.col("name") != F.col("c_name"))
        | (F.abs(F.col("bal") - F.col("c_acctbal")) > 1e-9)
    ).count() == 0
    out.unpersist()


def test_win_regression_constant_series_has_zero_slope(spark, sf_dir):
    """Sanity on synthetic frames: a frame of equal y values must
    regress to slope 0; single-row frames must be NULL."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.windows import REG_FRAME

    out = QS["q_win_regression"](spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    assert out.count() == ev.count()
    # per user, the FIRST event's frame has n=1 -> NULL slope
    from pyspark.sql import Window as W

    first = (
        ev.withColumn(
            "rn", F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id")
    )
    nulls = out.join(first, ["user_id", "event_id"])
    assert nulls.filter(F.col("slope").isNotNull()).count() == 0
    # driver recompute on one user's trailing frames
    import numpy as np

    rows = (
        ev.filter(F.col("user_id") == ev.first()["user_id"])
        .orderBy("ts", "event_id")
        .collect()
    )
    got = {
        r["event_id"]: r["slope"]
        for r in out.join(
            ev.filter(F.col("user_id") == rows[0]["user_id"]).select("event_id"),
            "event_id",
        ).collect()
    }
    ys = [r["value"] for r in rows]
    for i in range(1, min(len(rows), 25)):
        lo = max(0, i - (REG_FRAME - 1))
        xs = np.arange(lo + 1, i + 2, dtype=float)
        yw = np.array(ys[lo : i + 1])
        slope = np.polyfit(xs, yw, 1)[0]
        assert abs(got[rows[i]["event_id"]] - slope) < 1e-4


def test_vacuum_removes_only_orphans_and_versions_survive(spark, sf_dir):
    rows = {r["version"]: r["n_rows"] for r in QS["q_cdc_vacuum_orphans"](spark, sf_dir).collect()}
    assert rows[-1] == 2, "exactly the two planted torn commits die"
    tt = QS["q_cdc_time_travel"](spark, sf_dir).groupBy("version").count().collect()
    for r in tt:
        assert rows[r["version"]] == r["count"], "versions read intact post-vacuum"


def test_hll_error_within_budget_and_registers_merge(spark, sf_dir):
    """The estimate must sit inside ~3x the theoretical 1.04/sqrt(m)
    error, and per-partition sketches must merge by register-wise MAX
    to the global sketch (the mergeable-monoid law)."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
        HLL_M,
        _hll_fields_sql,
    )

    row = QS["q_sketch_hll"](spark, sf_dir).first()
    assert row["rel_err"] <= 3 * 1.04 / (HLL_M ** 0.5)
    o = load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    bucket, rho = _hll_fields_sql("k", "STRING")

    def regs(df):
        return (
            df.select(F.expr(bucket).alias("j"), F.expr(rho).alias("r"))
            .groupBy("j")
            .agg(F.max("r").alias("m"))
        )

    whole = regs(o)
    half_a = regs(o.filter(F.col("k") % 2 == 0))
    half_b = regs(o.filter(F.col("k") % 2 == 1))
    merged = (
        half_a.unionByName(half_b).groupBy("j").agg(F.max("m").alias("m"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_stream_partial_update_state_merge_equals_batch(spark, sf_dir):
    """The per-column-stamp state merged across three micro-batches
    must equal the one-shot batch apply — the state-merge law for
    patch semantics."""
    stream = QS["q_stream_partial_update"](spark, sf_dir)
    batch = QS["q_cdc_partial_update"](spark, sf_dir)
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_stream_compact_state_merge_equals_batch(spark, sf_dir):
    stream = QS["q_stream_compact"](spark, sf_dir)
    batch = QS["q_cdc_compact_log"](spark, sf_dir)
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_fanout_sinks_are_consistent(spark, sf_dir):
    rows = {r["sink"]: r for r in QS["q_cdc_fanout"](spark, sf_dir).collect()}
    assert rows["mirror"]["bal_sum"] == rows["agg_by_prefix"]["bal_sum"], (
        "both sinks view the same log prefix: totals must agree exactly"
    )
    assert rows["agg_by_prefix"]["n_rows"] == 10
    assert rows["changelog"]["n_rows"] > rows["mirror"]["n_rows"]


def test_zscore_baseline_excludes_current_row(spark, sf_dir):
    """Leakage check: a planted extreme value must score against its
    trailing baseline, not shrink it — recompute one user by hand."""
    import statistics

    out = {r["event_id"]: r["z"] for r in QS["q_win_zscore"](spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    uid = ev.first()["user_id"]
    rows = ev.filter(F.col("user_id") == uid).orderBy("ts", "event_id").collect()
    from proof_of_concept___cdc_w_iceberg_spark.operators.windows import ZS_FRAME

    for i in range(3, min(len(rows), 30)):
        base = [r["value"] for r in rows[max(0, i - (ZS_FRAME - 1)) : i]]
        if len(base) < 3:
            continue
        mu = sum(base) / len(base)
        sd = statistics.stdev(base)
        want = (rows[i]["value"] - mu) / sd
        got = out[rows[i]["event_id"]]
        assert abs(got - want) < 1e-3, (i, got, want)


def test_dedup_eval_agreement_dominates(spark, sf_dir):
    """The planted-dup fixture is easy for LSH: agreement must be the
    dominant category and counts must tie out against the two pair
    relations."""
    rows = {r["category"]: r["n_pairs"] for r in QS["q_dedup_eval"](spark, sf_dir).collect()}
    n_mh = QS["q_dedup_minhash"](spark, sf_dir).count()
    n_ex = QS["q_dedup_ngram"](spark, sf_dir).count()
    both = rows.get("both", 0)
    assert both + rows.get("minhash_only", 0) == n_mh
    assert both + rows.get("blocked_exact_only", 0) == n_ex
    assert both >= rows.get("blocked_exact_only", 0), "LSH recall must dominate misses"
