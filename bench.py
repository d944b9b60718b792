#!/usr/bin/env python
"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall-clock seconds.

Queries chosen to cover every operator family at its heaviest:
scan+agg (TPC-H Q1 shape), star join, window, as-of join, CDC apply,
dedup (exact/minhash/ngram), similarity top-k, text analysis,
sessionization.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from proof_of_concept___cdc_w_iceberg_spark import registry
from proof_of_concept___cdc_w_iceberg_spark.session import get_spark

BENCH_QUERIES = [
    "q_win_zscore",
    "q_sketch_hll",
    "q_win_regression",
    "q_cdc_partial_update",
    "q_ts_ohlc",
    "q_dedup_semantic",
    "q_cdc_wap",
    "q_cdc_merge_on_read",
    "q_markov_transitions",
    "q_event_cooccur",
    "q_centroid_classify",
    "q_join_temporal",
    "q_text_readability",
    "q_zonemap_prune",
    "q_mmr_diversify",
    "q_activity_bitmap",
    "q_percentile_exact_dist",
    "q_attribution",
    "q_cdc_drift_psi",
    "q_join_bloom",
    "q_sketch_cms",
    "q_knn_graph",
    "q_pattern_match",
    "q_win_distinct",
    "q_cdc_compact_log",
    "q_scan_parquet",
    "q_str_funcs",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q6",
    "q_tpch_q10",
    "q_tpch_q18",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q21",
    "q_join_range_bucketed",
    "q_sql_text",
    "q_join_salted",
    "q_agg_groupby",
    "q_cdc_apply_scale",
    "q_cdc_apply_bucketed",
    "q_join_multiway",
    "q_join_broadcast",
    "q_join_asof",
    "q_win_running",
    "q_union_all",
    "q_agg_approx_quantile",
    "q_cdc_apply",
    "q_stream_session",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_ngram",
    "q_dedup_simhash",
    "q_dedup_embed",
    "q_dedup_cluster",
    "q_embed_centroid",
    "q_sim_topk",
    "q_sim_lsh",
    "q_sim_ivf",
    "q_text_stats",
    "q_text_fingerprint",
    "q_pipeline_curate",
    "q_dedup_lines",
    "q_contamination",
    "q_bm25",
    "q_graph_pagerank",
    "q_sessionize",
    "q_lateral_join",
    "q_topk",
    "q_cdc_scd2",
    "q_islands",
    "q_histogram",
    "q_layout_zorder",
    "q_shuffle_shards",
    "q_corpus_balance",
    "q_text_entropy",
    "q_feature_pit",
    "q_dedup_containment",
    "q_stratified_split",
    "q_cdc_dead_letter",
    "q_scan_dpp",
    "q_model_score",
    "q_embed_gram",
    # r04 additions — the newer heavy pipelines whose plans could
    # otherwise degenerate unmeasured (round-3 verdict item 4).
    "q_dedup_incremental",
    "q_dedup_fuzzy",
    "q_rerank",
    "q_text_lm_score",
    "q_text_tfidf",
    "q_pack_sequences",
    "q_cdc_incremental_join",
    "q_multimodal_phash",
    "q_cdc_apply_partitioned",
    # r04 new operators with nontrivial wall-clock at sf0.1: iterative
    # clustering/PCA, corpus-wide strip/mix, snowflake join.
    "q_kmeans_embed",
    "q_embed_pca",
    "q_boilerplate_strip",
    "q_mix_temperature",
    "q_tpch_q5",
    "q_join_interval",
    "q_quality_checks",
    # r05 additions: new operators with nontrivial wall-clock.
    "q_graph_triangles",
    "q_basket_pairs",
    "q_stats_corr",
    "q_ts_changepoint",
    "q_ts_seasonal",
    "q_text_hashing_trick",
    "q_anon_kanonymity",
    "q_knn_graph_multiprobe",
    "q_dedup_semantic_multiprobe",
    "q_orders_rfm",
    "q_cohort_ltv",
    "q_herfindahl",
    "q_cdc_checksum",
    "q_ts_out_of_order",
    "q_win_median",
    "q_ts_cusum",
    "q_funnel_latency",
    "q_stream_topk",
    "q_events_dau_wau",
    "q_join_asof_nearest",
    "q_agg_gini",
    "q_cdc_incremental_topk",
    "q_source_csv",
    "q_source_json",
    # r06 additions: robust-stats aggregates (double rank-window pass).
    "q_agg_mad",
    "q_agg_winsorized",
    # r07 additions: the drained staging queue — robust stats, window
    # ranks, quality gate, changefeed, and the two dedup IVM paths.
    "q_agg_iqr",
    "q_agg_theil",
    "q_agg_weighted_median",
    "q_win_percent_rank",
    "q_quality_outliers",
    "q_cdc_changefeed",
    "q_dedup_capped_incremental",
    "q_dedup_cluster_incremental",
    # r08 addition: span-level exact-substring dedup (positioned-gram
    # shuffle + interval-union window; linear in corpus tokens).
    "q_dedup_substr",
    "q_dedup_substr_rewrite",
    "q_dedup_substr_incremental",
    # r11 additions: mergeable bottom-k quantile sketch (one-pass
    # TakeOrdered heap-merge + bounded read-out) and the theta/KMV
    # set-operation sketch (distinct union/overlap on sketches).
    "q_sketch_quantile",
    "q_sketch_theta",
    # r11: NN-Descent graph-ANN refinement round (bounded candidate
    # closure over the blocked kNN graph + hash-bucket exploration).
    "q_knn_graph_descent",
    # r11: streaming sketch maintenance (merge law as the foreachBatch
    # state transition; oracle = one-shot build).
    "q_stream_sketch",
    # r11: per-group quantile sketch (single-Exchange windowed form).
    "q_sketch_quantile_grouped",
    # r13: the iterated NN-Descent loop (rounds=2 — two bounded
    # closure+re-rank pipelines with a lineage cut between them) and
    # streaming theta maintenance (KMV merge law per micro-batch).
    "q_knn_graph_descent2",
    "q_stream_theta",
    # r13: the rest of the streaming sketch-maintenance column
    # (cell-sum / register-max / position-union monoids per batch).
    "q_stream_cms",
    "q_stream_hll",
    "q_stream_bloom",
    # r13: HLL rollup — per-bucket sketches max-merged to the total
    # (sketch-as-materialized-aggregate; exact-integer harmonic sum).
    "q_sketch_hll_rollup",
    # r13: per-group theta set operations (single-Exchange grouped
    # bottom-k sketches; group-anchored zero-overlap rows).
    "q_sketch_theta_grouped",
    # r13: ANN IVM — insert batch applied to the blocked kNN graph,
    # touched-cells-only (times build-prefix + apply, like the dedup
    # IVM rows), and its multi-batch streaming form.
    "q_knn_graph_incremental",
    "q_stream_knn_graph",
    # r14: ANN deletion rung (delete-apply == rebuild over survivors)
    # and the mixed insert+delete multi-batch upsert stream.
    "q_knn_graph_delete",
    "q_stream_knn_graph_upsert",
    # r14: CMS rollup (per-year grids cell-sum-merged to the total;
    # oracle rebuilds the total one-shot).
    "q_sketch_cms_rollup",
    # r14: Bloom rollup (per-segment position sets OR-merged; probe
    # through the merged filter checks the exact position set).
    "q_sketch_bloom_rollup",
    # r14: theta + quantile rollups (leaves merged to totals; oracles
    # rebuild the totals one-shot — KMV/sample merge laws).
    "q_sketch_theta_rollup",
    "q_sketch_quantile_rollup",
    # r14: CMS under retractions (turnstile model — signed cell sums
    # over a changelog with deletes; oracle = net-stream rebuild).
    "q_stream_cms_retract",
    # r15: small-file compaction rung (fragmented ingest -> bucketed
    # apply -> bin-pack; oracle = the uncompacted latest-wins mirror).
    "q_cdc_compact_files",
    # r15: write-audit-publish commit mechanics over branched refs
    # (good batch publishes, poisoned batch dropped; oracle = the
    # published apply — leak check by hash).
    "q_cdc_wap_publish",
    # r15: int8-quantized cosine top-k (exact integer scores — the
    # hash-checkable form of the ANN serving ladder's bandwidth rung).
    "q_sim_topk_quantized",
    # r16: int8 codes scored inside IVF-probed cells only (the composed
    # serving layout: bucketing bounds candidates, codes bound bytes).
    "q_sim_ivf_quantized",
    # r16: two audit branches racing off one base (publish, refused
    # fast-forward, cherry-pick retry; oracle = sequential apply).
    "q_cdc_wap_race",
    # r16: snapshot expiry between branch commits and publish (lineage
    # tombstones keep the ancestry walk alive; oracle = unexpired apply).
    "q_cdc_expire_branch",
    # r16: CMS retraction stream through the durable replay guard with
    # redelivery + restart inside the query (oracle = net one-shot).
    "q_stream_cms_durable",
    # r16: bottom-k quantile stream through the same guard (the other
    # replay-corruptible transition; oracle = one-shot sketch).
    "q_stream_quantile_durable",
    # r17: IVFADC serving (IVF probe routing over residual-PQ codes,
    # ADC shortlist, exact rerank of shortlist vectors only — the
    # terminal ANN compression rung).
    "q_sim_ivf_pq",
    # r18: flat-PQ serving (ADC shortlist over the full code table,
    # exact rerank — the router-free sibling of q_sim_ivf_pq).
    "q_sim_pq",
    # r18: partition-spec evolution under live CDC traffic (metadata-
    # only evolve, lazy migration, migrate() drain; oracle = the
    # fixed-layout sequential apply).
    "q_cdc_evolve_spec",
    # r19: hybrid BM25 + dense retrieval fused by RRF (the production
    # RAG serving shape: lexical arm = q_bm25's pipeline, dense arm =
    # broadcast query vector, fusion joins two ≤20-row relations).
    "q_search_hybrid",
    # r20: incremental BM25 (search-index IVM — O(batch-tokens)
    # maintenance of the dl/tf sufficient statistics under a CDC churn
    # batch, served by the shared ranking arm).
    "q_bm25_incremental",
]


def _cpu_stat() -> dict | None:
    """Cumulative jiffies from /proc/stat: total, steal, iowait.
    Guest loadavg CANNOT see host-side contention — a hypervisor
    neighbor stealing cycles makes every query uniformly 2-8x slower
    while loadavg reads 0.1 (observed r11: one bench run at 206 s vs
    174 s half an hour apart on identical code, idle guest). The
    steal/iowait DELTA over the run is the attribution signal."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return {
            "total": sum(vals),
            "steal": vals[7] if len(vals) > 7 else 0,
            "iowait": vals[4] if len(vals) > 4 else 0,
        }
    except (OSError, ValueError, IndexError):
        return None


def _cpu_pressure(start: dict | None, end: dict | None) -> dict:
    """steal/iowait as a percentage of total cpu time over the run."""
    if not start or not end or end["total"] <= start["total"]:
        return {"cpu_steal_pct": None, "cpu_iowait_pct": None}
    dt = end["total"] - start["total"]
    return {
        "cpu_steal_pct": round(100.0 * (end["steal"] - start["steal"]) / dt, 2),
        "cpu_iowait_pct": round(100.0 * (end["iowait"] - start["iowait"]) / dt, 2),
    }


# Fixed work for the box-speed probe: 8192 sha256 updates over a 64 KiB
# buffer = 512 MiB hashed, single-threaded, allocation-free. ~0.2-0.5 s
# on a healthy core; scales 1:1 with the per-query fixed overhead that
# host-side slowness inflates (the zero-steal class-B regime, SCALING.md
# r13 addendum).
_CALIB_ITERS = 8192
_CALIB_BUF = b"\x5a" * 65536


def _calibrate(repeats: int = 3) -> float:
    """Constant-work CPU calibration (r13 verdict item 1): time the
    same fixed hash loop every run and stamp the MIN of ``repeats``
    into the artifact, so cross-round comparisons can separate
    box-delta from plan-delta by arithmetic instead of pattern
    analysis. Min-of-3 discards scheduler hiccups; the probe runs at
    settle-gate time (box idle, before Spark starts) and again after
    the suite (``calib_s_end``) to catch mid-run regime shifts."""
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(_CALIB_ITERS):
            h.update(_CALIB_BUF)
        h.digest()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def _loadavg() -> float | None:
    """1-minute load average, or None where unsupported — POSIX allows
    ``getloadavg`` to exist yet raise (round-8 advice: the end-of-run
    stamp only checked hasattr and could crash after all timings)."""
    try:
        return round(os.getloadavg()[0], 2)
    except (AttributeError, OSError):
        return None


# End-of-run contamination margin (r16 verdict item 4): the settle
# gate samples loadavg only at START, so a workload that joins the box
# MID-run (the two discarded r16 runs: pytest alongside bench, end
# loadavg 22 vs 4 at the gate, a contiguous drift segment up to 5.9x
# on sub-second rows) passes the gate yet poisons the timings. The
# rule the r16 SCALING.md addendum stated in prose — "a run whose
# end-loadavg is far above its gate loadavg should be treated as
# contaminated and re-run idle" — is enforced here mechanically: a
# run whose end loadavg exceeds the gate value by more than this
# margin is stamped ``end_contaminated`` in the artifact (env block of
# BOTH the stdout headline the driver captures and BENCH_DETAIL.json)
# and its BENCH_HISTORY snapshot carries ``"contaminated": true`` so no
# future drift/floor reading can silently trust it.
#
# Margin calibration — three measured regimes (r17 session):
#   - a STRICTLY-ALONE run on an idle box (gate 0.05) ends at ~4.7:
#     the bench's OWN final minute of local[32] Spark work contributes
#     ~5 to the 1-minute loadavg, so any margin under ~5 false-flags
#     every clean quiet-gate run (the first cut used 4.0 and did
#     exactly that — artifacts reverted, rule recalibrated);
#   - the committed r16 close (gate 4.08 -> end 7.35, judged usable):
#     delta 3.3, stays clean;
#   - the discarded pytest-alongside runs (gate ~4 -> end 22):
#     delta 18, trips with 10 s of headroom.
# 5 own-tail + ~3 headroom = 8. An absolute settle-threshold prong was
# considered and REJECTED: gate just under threshold + own tail would
# false-positive (7.9 + 5 > 8), and any real co-tenant on this 32-core
# box (the only failure mode observed) lands in the teens anyway.
END_CONTAMINATION_MARGIN = 8.0


def _end_contamination(gate: dict, end_la: float | None) -> dict:
    """Verdict on end-of-run loadavg vs the settle gate's. Returns the
    stamps to merge into the env block; prints a loud stderr warning
    when contaminated (the bench must be re-run idle — its drift rows
    are attribution-free and its snapshot is tagged in history)."""
    base = gate.get("loadavg_after_gate")
    if not isinstance(base, (int, float)):
        base = gate.get("loadavg_at_gate")
    contaminated = False
    reason = None
    if isinstance(end_la, (int, float)):
        if (
            isinstance(base, (int, float))
            and end_la > base + END_CONTAMINATION_MARGIN
        ):
            contaminated = True
            reason = (
                f"end loadavg {end_la} > gate {base} + "
                f"{END_CONTAMINATION_MARGIN}"
            )
    if contaminated:
        print(
            f"# WARNING: {reason} — another workload joined the box "
            "mid-run; timings are contaminated (the settle gate only "
            "samples at START). This run's drift rows are not "
            "attributable to plans and its history snapshot is tagged "
            "contaminated — re-run the bench alone.",
            file=sys.stderr,
        )
    return {
        "end_contaminated": contaminated,
        "end_contamination_reason": reason,
    }


def _cache_state(sf_dir: str) -> dict:
    """Stamp whether the materialized-stage caches were warm at run
    start, plus machine load — round-7 verdict: without this, a
    uniform +7% drift and the q_knn_graph 2.6<->3.8 s oscillation were
    unattributable (cold band-index builds land inside whichever dedup
    query runs first; load spikes shift every query uniformly).

    Probes the REAL marker paths exported by ext/dedup.py so the stamp
    cannot drift from the actual cache layout (round-8 advice)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext import dedup

    return {
        "band_index_warm": os.path.exists(dedup.band_index_marker(sf_dir)),
        "capped_stage_warm": os.path.exists(dedup.capped_stage_marker(sf_dir)),
        "loadavg_1m": _loadavg(),
    }


def _box_stamp(spark) -> dict:
    """Which box and session produced the run, so runs from different
    boxes or core counts are never compared as one: ``cpus`` is the
    core count of Spark's ``local[N]`` master (SPARK_GRAFT_CPUS),
    ``nproc`` the cores this process may run on, ``pyspark`` the
    library version, and ``host`` a fingerprint of the host name, CPU
    model and memory size."""
    import platform

    import pyspark

    master = spark.sparkContext.master
    m = re.fullmatch(r"local\[(\d+)\]", master)
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((line.split(":", 1)[1].strip() for line in f
                          if line.startswith("model name")), "")
    except OSError:
        pass
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    host = hashlib.sha1(
        f"{platform.node()}|{model}|{mem}".encode()).hexdigest()[:12]
    return {
        "cpus": int(m.group(1)) if m else master,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "host": host,
    }


def _prev_timings(sf: float) -> dict[str, float]:
    """Per-query timings from the PREVIOUS run's BENCH_DETAIL.json (the
    on-disk artifact this run is about to overwrite). Used to spot
    round-over-round movers worth a de-noising rerun. Only a same-sf
    artifact is comparable — a smoke run at another scale would flag
    every query as a mover and double the suite's runtime on reruns."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(path) as f:
            doc = json.load(f)
        # A non-dict top level (array/string artifact) must degrade to
        # {} like any other garbage, not crash on .get.
        if not isinstance(doc, dict) or float(doc.get("sf", 0.1)) != sf:
            return {}
        # A contaminated previous run's timings are inflated (up to
        # ~6x on sub-second rows) — trusting them would fire the
        # mover-rerun on nearly every query and double the next clean
        # run's wall-clock (review finding r17: the stamp exists so no
        # future reading silently trusts the artifact, including this
        # one).
        if (doc.get("env") or {}).get("end_contaminated"):
            return {}
        q = doc.get("queries", {})
        return {k: float(v) for k, v in q.items()}
    except (OSError, ValueError, TypeError, AttributeError):
        return {}


def _load_history() -> list[dict]:
    """Rolling per-run timing snapshots from BENCH_HISTORY.json.

    Round-10 verdict item 2: a per-round rerun-vs-PREV check cannot see
    slow monotonic drift (the r10 suite ran +9.6% over r9 on identical
    source). The history file keeps the last few full per-query maps so
    each run can compare its kept times against the MINIMUM over the
    last 3 snapshots — a floor that machine noise can only raise, never
    lower — and report sustained movers in the final JSON line."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.json"
    )
    try:
        with open(path) as f:
            doc = json.load(f)
        if not isinstance(doc, list):
            return []
        return [s for s in doc if isinstance(s, dict) and isinstance(s.get("queries"), dict)]
    except (OSError, ValueError):
        return []


def _append_history(
    history: list[dict],
    timings: dict[str, float],
    total: float,
    sf: float,
    calib_s: float | None = None,
    noop_s: float | None = None,
    contaminated: bool = False,
) -> None:
    snap = {"label": "latest", "total": total, "queries": timings, "sf": sf}
    if contaminated:
        # A workload joined the box mid-run (end-loadavg rule): the
        # snapshot stays for continuity but is tagged so no future
        # floor/drift reading trusts it silently.
        snap["contaminated"] = True
    if calib_s is not None:
        # Box-speed stamp travels WITH the snapshot so future drift
        # reports can normalize this run's floors by calib ratio.
        snap["calib_s"] = calib_s
    if noop_s is not None:
        # Fixed-overhead stamp (r15; since r16 the run's MEDIAN of the
        # start/mid/end samples): the per-query scheduling term of the
        # run that recorded these timings — the class-B term.
        snap["noop_s"] = noop_s
    history = history + [snap]
    # Retention is per scale: a smoke run at another sf must neither
    # feed the floors (filtered at load) nor push the driver-scale
    # snapshots out of the rolling window here. Contaminated snapshots
    # are capped SEPARATELY (2 per sf, forensics only) and never count
    # against the 6 clean slots — otherwise a noisy week of tagged
    # runs would evict every clean floor snapshot from disk and the
    # next clean run would compare against nothing (review finding
    # r17: regression detection silently disabled exactly when the
    # box had been noisy).
    kept_rev: list[dict] = []
    counts: dict[float, int] = {}
    dirty_counts: dict[float, int] = {}
    for s in reversed(history):
        key = float(s.get("sf", 0.1))
        if s.get("contaminated"):
            if dirty_counts.get(key, 0) < 2:
                kept_rev.append(s)
                dirty_counts[key] = dirty_counts.get(key, 0) + 1
        elif counts.get(key, 0) < 6:
            kept_rev.append(s)
            counts[key] = counts.get(key, 0) + 1
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.json"
    )
    try:
        with open(path, "w") as f:
            json.dump(list(reversed(kept_rev)), f, indent=1, sort_keys=True)
    except OSError:
        pass


# A kept time more than 1.5x above its 3-snapshot historical floor is a
# sustained mover: either a real regression (plan change) or drift the
# machine has held for multiple rounds — both belong in the JSON line.
DRIFT_RATIO = 1.5


def _history_at_sf(history: list[dict], sf: float) -> list[dict]:
    """Only same-scale snapshots are comparable: an sf0.01 smoke run
    appended to sf0.1 history would LOWER every floor ~10x and flag
    the whole next driver run as drift (found r12 while smoke-testing
    the settle gate). Legacy snapshots without an sf stamp are treated
    as the driver's default scale (0.1) — that is what recorded them.

    Contaminated snapshots (end-loadavg rule) are excluded from
    COMPARISON too: an inflated snapshot can never lower a min-floor,
    but it occupies a rolling-window slot and would evict a fast
    snapshot — quietly RAISING the 3-snapshot floor and masking the
    next real regression. It stays on disk (continuity, human
    forensics); it just never competes."""
    return [
        s for s in history
        if float(s.get("sf", 0.1)) == sf and not s.get("contaminated")
    ]


def _load_floors() -> dict:
    """BENCH_FLOORS.json: monotone all-time minima per scale (noop_s /
    calib_s / suite total). The rolling 3-snapshot window RE-FLOORS in
    whatever regime the box currently runs, so a slow secular drift of
    the fixed term is invisible to the drift report (r15 verdict item
    2: noop_s grew 0.107->0.132 with every window floor growing along).
    These minima never expire, making secular growth visible forever
    as env.noop_vs_alltime / calib_vs_alltime / suite_vs_alltime."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOORS.json")
    try:
        with open(path) as f:
            doc = json.load(f)
        return doc if isinstance(doc, dict) else {}
    except (OSError, ValueError):
        return {}


def _update_floors(sf: float, calib_s: float, noop_s: float,
                   total: float) -> dict:
    """Fold this run into the all-time minima and return the (possibly
    updated) per-scale record.

    ``suite_min`` is only comparable across runs of the SAME query
    set: adding or removing BENCH_QUERIES entries changes the
    structural total, so an old composition's floor would read as
    permanent secular drift (or hide a real regression after a
    removal — review finding r16). The record carries the query-set
    fingerprint; when the set changes, suite_min resets and re-floors
    under the new composition. noop/calib floors are per-probe and
    composition-independent."""
    import hashlib

    floors = _load_floors()
    key = str(sf)
    rec = floors.get(key) if isinstance(floors.get(key), dict) else {}
    qset_fp = hashlib.md5(
        "\n".join(sorted(BENCH_QUERIES)).encode()).hexdigest()[:12]
    if rec.get("suite_queries_fp") != qset_fp:
        rec.pop("suite_min", None)
        rec["suite_queries_fp"] = qset_fp
        rec["suite_queries_n"] = len(BENCH_QUERIES)
    for field, val in (("noop_s_min", noop_s), ("calib_s_min", calib_s),
                       ("suite_min", total)):
        old = rec.get(field)
        if val and val > 0 and (
                not isinstance(old, (int, float)) or val < old):
            rec[field] = val
    floors[key] = rec
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOORS.json")
    try:
        with open(path, "w") as f:
            json.dump(floors, f, indent=1, sort_keys=True)
    except OSError:
        pass
    return rec


def _drift_report(
    history: list[dict],
    timings: dict[str, float],
    calib_now: float | None = None,
    noop_now: float | None = None,
    stages: dict[str, int] | None = None,
) -> list[dict]:
    """Sustained movers vs the 3-snapshot floor. When both this run and
    the floor-providing snapshot carry a calibration stamp, each row
    also gets ``calib_ratio`` (box slowdown vs the floor's box:
    calib_now / calib_floor) and ``ratio_cal`` = ratio / calib_ratio —
    the residual PLAN-delta after dividing out measured box-delta. A
    row with ratio 1.6 but ratio_cal ~1.0 is the box, not the code;
    ratio_cal > DRIFT_RATIO is a real plan regression even on a slow
    box (r13 verdict item 1: attribution by arithmetic, not argument).

    r16 (verdict item 2): the class-B FIXED term is normalized the same
    way. The noop probe is a 2-stage job, so the per-stage fixed cost
    is noop/2; a query running S stages carries S x (noop_now -
    noop_floor)/2 of pure regime delta (measured: the fixed term is
    BIMODAL, ~0.09 vs ~0.18 s per noop within ONE idle session —
    SCALING.md r16 addendum). When this run counted the query's stages
    and the floor snapshot stamped its noop, each drift row gets
    ``fixed_delta_s`` (the predicted regime term) and
    ``ratio_fixed_adj`` = (kept - fixed_delta)/floor — a row with
    ratio 1.6 but ratio_fixed_adj ~1.0 is the fixed-term regime, not
    the plan; sub-second queries are exactly where that term
    dominates."""
    window = history[-3:]
    out = []
    for name, dt in timings.items():
        floors = [
            (float(s["queries"][name]), s.get("calib_s"), s.get("noop_s"))
            for s in window
            if isinstance(s["queries"].get(name), (int, float))
            and float(s["queries"][name]) > 0
        ]
        if not floors or dt <= 0:
            continue
        floor, floor_calib, floor_noop = min(floors, key=lambda t: t[0])
        if dt / floor > DRIFT_RATIO:
            row = {
                "q": name, "kept": dt, "floor_3run": floor,
                "ratio": round(dt / floor, 2),
            }
            if calib_now and isinstance(floor_calib, (int, float)) and floor_calib > 0:
                calib_ratio = calib_now / float(floor_calib)
                row["calib_ratio"] = round(calib_ratio, 2)
                row["ratio_cal"] = round(dt / floor / calib_ratio, 2)
            n_stages = (stages or {}).get(name)
            if (noop_now and isinstance(floor_noop, (int, float))
                    and floor_noop > 0 and n_stages):
                fixed_delta = n_stages * (noop_now - float(floor_noop)) / 2.0
                row["n_stages"] = n_stages
                row["fixed_delta_s"] = round(fixed_delta, 3)
                row["ratio_fixed_adj"] = round(
                    max(0.0, dt - max(0.0, fixed_delta)) / floor, 2)
            out.append(row)
    out.sort(key=lambda e: -e["ratio"])
    return out


def _calib_vs_floor(history: list[dict], calib_s: float) -> float | None:
    """Run-level box indicator next to the per-drift-row annotations:
    this run's probe vs the fastest stamped probe in the 3-snapshot
    floor window. >1 = box slower than the floors were recorded on —
    read it FIRST when the drift list is long (or suspiciously empty).
    None while no floor snapshot carries a stamp (pre-r14 history)."""
    floor_calibs = [
        float(s["calib_s"]) for s in history[-3:]
        if isinstance(s.get("calib_s"), (int, float)) and s["calib_s"] > 0
    ]
    if not floor_calibs or calib_s <= 0:
        return None
    return round(calib_s / min(floor_calibs), 2)


def _noop_probe(spark, repeats: int = 5) -> float:
    """Min-of-N latency of a trivial 1-row job on the warm session —
    the per-query fixed term (Catalyst + job scheduling + Py4J). The
    r16 decomposition (SCALING.md addendum): this term is BIMODAL
    (~0.09 vs ~0.18 s bands that flip within one idle session), lives
    almost entirely in JVM job/stage scheduling (py4j ~2 ms, Catalyst
    ~5 ms), does NOT grow with session age (flat across a 160-query
    aging run; a recycled session lands in the same band), and is
    invisible to the pure-CPU calib probe. Sampled at start, mid-suite,
    and end so a band flip mid-run is visible; the run's MEDIAN is the
    normalization constant."""
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(1).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def _time_query(spark, qs, name: str, sf_dir: str,
                stages: dict[str, int] | None = None) -> float:
    sc = spark.sparkContext
    group = f"bench_{name}_{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    df = qs[name](spark, sf_dir)
    df.count()
    dt = round(time.perf_counter() - t0, 3)
    # Release persists that back the returned plan (documented in
    # ext/dedup.py): keeps the long loop's executor memory flat and
    # every query's timing independent of its predecessors.
    spark.catalog.clearCache()
    if stages is not None:
        # Stage count per query (r16): the multiplier on the fixed
        # per-stage scheduling term — what lets the drift report
        # discriminate regime delta from plan delta for sub-second
        # queries (``fixed_delta_s`` in _drift_report). Best-effort:
        # a missing count only drops the annotation, never a timing.
        try:
            n = _stages_in_group(sc, group)
            if n:
                stages[name] = n  # rerun overwrites: same plan, same count
        except Exception:
            pass
    return dt


def _stages_in_group(sc, group: str) -> int:
    """Distinct stages that actually RAN tasks under a job group.

    Set-dedup first: a stage shared by two jobs in the group appears
    in both jobs' stageIds and was being counted twice; and a stage
    SKIPPED via shuffle reuse never ran its tasks
    (numCompletedTasks == 0) yet carried numTasks > 0 — both inflated
    n_stages and over-credited fixed_delta_s, masking real plan
    regressions as regime noise (review finding r16)."""
    tracker = sc.statusTracker()
    sids: set[int] = set()
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info is not None:
            sids.update(info.stageIds)
    n = 0
    for sid in sids:
        sinfo = tracker.getStageInfo(sid)
        if sinfo is not None and sinfo.numCompletedTasks > 0:
            n += 1
    return n


# A query whose time moved >1.4x vs the previous artifact (either
# direction) gets ONE de-noising rerun, keeping the min — round-8
# verdict item 6: kills the JVM-bimodality class (q_knn_graph's
# 2.59<->3.89 s) from round-over-round tables at bounded extra cost.
MOVER_RATIO = 1.4

# Multi-commit CDC plans pay a 2-3x FIRST-EXECUTION term in a fresh
# session (codegen compile + Hadoop committer init on plans that run
# several write-commit jobs inside one query) — measured r17
# (q_cdc_apply_partitioned 11.7 cold-first vs 4.4 warm, 23/23 stages,
# SCALING.md r17 addendum) and re-measured r18 (q_cdc_partial_update
# 3.88 -> 1.33/1.29, 8/8 stages; partitioned-apply 8.76 -> 5.3/5.36,
# 23/23). Every bench run is a fresh session, so whether the term
# landed in the kept timing depended on whether the mover-rerun
# happened to fire — these two rows bounced between their warm and
# cold-first bands across the 8-snapshot history and re-entered the
# drift ledger three rounds running only to be re-discharged by the
# same idle probe. One UNTIMED warm-up execution before the timed run
# removes the term for exactly the queries where it was measured
# (r17 verdict item 6); the set is stamped into the artifact's env
# block so the one-time floor re-basing reads as what it is.
FIRST_EXECUTION_WARMUP = ("q_cdc_apply_partitioned", "q_cdc_partial_update")


def _settle_gate() -> dict:
    """Loadavg settle gate (r11 verdict: the driver bench started at
    loadavg 11.88 and produced an 8-row drift list that was pure CPU
    contention). The bench's job is comparing COMPUTE round over
    round, so a contended start must either wait out the contention
    or be flagged IN the artifact before it pollutes the
    BENCH_HISTORY floors. Polls 1-min loadavg until it drops under
    ~cores/4 (the regime every historical floor was recorded in) or
    the wait budget runs out; the artifact's env block then carries
    the gate verdict either way. The bench must run ALONE — this gate
    enforces the rule mechanically instead of by convention."""
    threshold = max(4.0, (os.cpu_count() or 8) / 4.0)
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_S", "120"))
    start = _loadavg()
    waited = 0.0
    la = start
    while la is not None and la > threshold and waited < budget_s:
        time.sleep(5.0)
        waited += 5.0
        la = _loadavg()
    contended = la is not None and la > threshold
    if contended:
        print(
            f"# WARNING: loadavg {la} still > settle threshold "
            f"{threshold} after {waited:.0f}s — timings will include "
            "external CPU contention; drift vs historical floors is "
            "not attributable to plans",
            file=sys.stderr,
        )
    return {
        "settle_threshold": threshold,
        "settle_waited_s": waited,
        "loadavg_at_gate": start,
        "loadavg_after_gate": la,
        "contended": bool(contended),
    }


def _parse_sf(sf_dir: str) -> float | None:
    """Scale factor for history keying — display metadata, not a knob.

    Tolerates any SPARK_GRAFT_SF_DIR layout (r12 advice: a dir not
    ending in sf<number>, e.g. /data/tpch_parquet, must not crash
    startup). SPARK_GRAFT_SF overrides; else an sf<number> token
    ANYWHERE in the path counts (r13 advice: /data/tpch_sf1_parquet is
    sf=1 — the old trailing-only parse silently keyed foreign scales
    into the 0.1 history bucket; last match wins, the deepest path
    component). Returns None when undetermined: the run still times
    and reports, but skips history recording and drift comparison
    rather than polluting another scale's floors."""
    env = os.environ.get("SPARK_GRAFT_SF")
    if env:
        try:
            return float(env)
        except ValueError:
            pass
    # Left boundary: without it, "/home/asdf1/tpch" reads as sf=1 and
    # silently keys the run into the wrong history bucket — the exact
    # cross-scale floor pollution this parse exists to prevent. Right
    # boundary (r14 advice): "/data/sf2x_parquet" must fall through to
    # the safe None path, not parse as sf=2 — and regex BACKTRACKING
    # must not partially match either ("sf0.1x" would otherwise read
    # as sf=0 via the integer-only branch, so the lookahead also
    # rejects a dot-digit continuation). A dot followed by a NON-digit
    # is a legitimate boundary ("tpch_sf0.1.parquet" is sf=0.1 — the
    # common extension-style dir name; review finding). "_" stays a
    # boundary on BOTH sides (r13 advice requires "tpch_sf1_parquet"
    # -> 1), so a well-formed-but-absurd token like "sf20240101_tpch"
    # still parses — into its own (empty) history bucket, which cannot
    # pollute a real scale's floors.
    tokens = re.findall(
        r"(?<![A-Za-z0-9])sf(\d+(?:\.\d+)?)(?![A-Za-z0-9]|\.\d)", sf_dir)
    if tokens:
        return float(tokens[-1])
    print(
        f"bench: cannot parse scale factor from {sf_dir!r}; timings "
        "will not enter BENCH_HISTORY and no drift is computed "
        "(set SPARK_GRAFT_SF to override)",
        file=sys.stderr,
    )
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cache_state = _cache_state(sf_dir)
    cache_state["settle_gate"] = _settle_gate()
    # Box-speed probe AFTER the settle gate (idle box, pre-Spark): the
    # number every floor comparison normalizes by.
    cache_state["calib_s"] = calib_s = _calibrate()
    cpu_start = _cpu_stat()
    sf = _parse_sf(sf_dir)
    prev = _prev_timings(sf) if sf is not None else {}
    history = _history_at_sf(_load_history(), sf) if sf is not None else []
    ratio = _calib_vs_floor(history, calib_s)
    if ratio is not None:
        cache_state["calib_vs_floor"] = ratio
    spark = get_spark("poc_cdc_bench")
    cache_state.update(_box_stamp(spark))
    qs = registry.queries()

    # Warm the session (JVM/codegen) AND the page cache: count every
    # fixture table once before timing. Evidence for why (r11, in
    # SCALING.md "the +9.6% r10 bench drift"): on a box where the
    # sf0.1 parquet is not yet in the page cache, the first ~20 timed
    # queries pay first-touch disk reads and land 1.6-3x over their
    # historical floors, in exactly suite order — the drift report
    # then flags cold IO, not plans. The suite's job is to compare
    # COMPUTE round over round; one cheap pre-read (~2 s at sf0.1)
    # makes every run warm-cache like the floors it is compared to.
    spark.range(1).count()
    # Warm through load(), not raw spark.read.parquet: load() owns the
    # TIMESTAMP(NANOS) handling for events.parquet, and a raw read of
    # a nanos-stamped fixture crashes the whole bench at warm-up
    # before any timing (r11 advice).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import TABLES, load

    for t in TABLES:
        load(spark, sf_dir, t).count()

    # Codegen/JIT warm-up (r20, guide §1 — measurement hygiene, same
    # class as the page-cache pre-read above): a FRESH JVM charges the
    # first ~15 timed queries with one-time whole-stage-codegen and C2
    # compilation of the window/aggregate/join/generate operator
    # classes — measured r20: the suite-order-first queries ran 2-4x
    # over their own warm floors while the identical mid-suite noop
    # probe had settled (0.21-0.32 s start band vs 0.08 s mid), and an
    # untimed synthetic plan exercising those operators recovered a
    # ~3.7 s median on the first eight timed queries (A/B across
    # alternating fresh sessions; OPTIMIZATION_r20.md). The relation is
    # synthetic (spark.range) — no fixture bytes, no query results, so
    # nothing a timed query computes is precomputed.
    _wdf = spark.range(200_000).select(
        F.col("id"), (F.col("id") % 97).alias("k"),
        F.rand(7).alias("v"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"))
    _w = Window.partitionBy("k").orderBy("v")
    _wa = (_wdf.withColumn("rn", F.row_number().over(_w))
           .withColumn("s", F.sum("v").over(_w)))
    _wb = _wdf.groupBy("k").agg(F.sum("v").alias("sv"),
                                F.count("*").alias("n"))
    (_wa.join(_wb, "k")
     .join(F.broadcast(_wb.limit(50)), "k", "left_semi")
     .select("k", "rn", "s", F.explode("arr").alias("x"))
     .write.format("noop").mode("overwrite").save())

    # Fixed-overhead probe (r15, decomposed r16): calib_s measures
    # pure-CPU speed, but the class-B drift signature (SCALING.md
    # r13/r15/r16 addenda — sub-second queries 1.5x over floor while
    # heavies sit AT floor, calib unchanged) lives in the per-query
    # FIXED term: JVM job/stage scheduling (docstring of _noop_probe).
    cache_state["noop_s"] = _noop_probe(spark)

    timings: dict[str, float] = {}
    reruns: dict[str, dict] = {}
    stages: dict[str, int] = {}
    mid_at = len(BENCH_QUERIES) // 2
    cache_state["first_execution_warmup"] = list(FIRST_EXECUTION_WARMUP)
    for i, name in enumerate(BENCH_QUERIES):
        if name in FIRST_EXECUTION_WARMUP:
            # Untimed, discarded: pays the fresh-session codegen +
            # committer term so the timed run below measures the PLAN.
            _time_query(spark, qs, name, sf_dir)
        dt = _time_query(spark, qs, name, sf_dir, stages=stages)
        p = prev.get(name)
        # dt is rounded to 3 decimals — a sub-0.5ms query rounds to
        # 0.0 and would divide-by-zero in the ratio.
        if p and p > 0 and dt > 0 and max(dt / p, p / dt) > MOVER_RATIO:
            dt2 = _time_query(spark, qs, name, sf_dir, stages=stages)
            kept = min(dt, dt2)
            reruns[name] = {"prev": p, "runs": [dt, dt2], "kept": kept}
            print(
                f"# {name}: mover vs prev {p:.3f}s — runs {dt:.3f}/{dt2:.3f}, keep {kept:.3f}",
                file=sys.stderr,
            )
            dt = kept
        timings[name] = dt
        print(f"# {name}: {dt:.3f}s", file=sys.stderr)
        if i == mid_at:
            # Mid-suite fixed-term sample: the term flips between its
            # ~0.09/~0.18 s bands on timescales shorter than the suite.
            cache_state["noop_s_mid"] = _noop_probe(spark)
    cache_state["noop_s_end"] = _noop_probe(spark)
    noop_samples = sorted(
        v for v in (cache_state.get("noop_s"), cache_state.get("noop_s_mid"),
                    cache_state.get("noop_s_end"))
        if isinstance(v, (int, float)) and v > 0
    )
    noop_run = noop_samples[len(noop_samples) // 2] if noop_samples else None
    cache_state["noop_s_run"] = noop_run
    total = round(sum(timings.values()), 3)
    # End-of-run loadavg SAMPLED HERE — the instant the measurement
    # window closes, before history/floors are written, so a
    # contaminated run can be tagged in the snapshot it creates (r16
    # verdict item 4; the later stamps — cpu pressure, calib_s_end —
    # still run after, outside the window as before).
    cache_state["loadavg_1m_end"] = end_la = _loadavg()
    cache_state.update(_end_contamination(cache_state["settle_gate"], end_la))
    drift = _drift_report(history, timings, calib_now=calib_s,
                          noop_now=noop_run, stages=stages)
    # Re-read the raw history for the append: other-scale snapshots
    # are filtered for COMPARISON but must survive on disk. An
    # undetermined scale records nothing (it has no valid bucket).
    if sf is not None:
        _append_history(_load_history(), timings, total, sf, calib_s=calib_s,
                        noop_s=noop_run,
                        contaminated=cache_state["end_contaminated"])
        # All-time minima (never re-floored): secular growth of the
        # fixed term or the suite is visible here even when every
        # rolling-window floor has grown along with it.
        floors_rec = _update_floors(sf, calib_s, noop_run or 0.0, total)
        for field, now in (("noop_vs_alltime", noop_run),
                           ("calib_vs_alltime", calib_s),
                           ("suite_vs_alltime", total)):
            fmin = floors_rec.get(
                {"noop_vs_alltime": "noop_s_min",
                 "calib_vs_alltime": "calib_s_min",
                 "suite_vs_alltime": "suite_min"}[field])
            if isinstance(fmin, (int, float)) and fmin > 0 and now:
                cache_state[field] = round(now / fmin, 2)
    # The driver captures only the stdout TAIL: with 99+ queries the
    # full per-query map outgrew it and BENCH_r04.json landed with
    # parsed:null (round-4 verdict item 1). So the FINAL stdout line is
    # a compact headline (metric/value/sf plus the handful of flagship
    # timings that BASELINE.md names), and the full per-query map goes
    # to stderr and to BENCH_DETAIL.json next to this script.
    # Pressure snapshot FIRST, probe second: the end probe burns ~0.3 s
    # of 100% single-core hashing, and running it inside the
    # measurement window would inflate the suite's own cpu attribution
    # (the start probe runs before cpu_start, outside the window).
    cache_state.update(_cpu_pressure(cpu_start, _cpu_stat()))
    # Second probe after the suite: calib_s_end >> calib_s means the
    # box changed regime MID-run and even this run's own numbers are
    # internally inconsistent (not just vs history).
    cache_state["calib_s_end"] = _calibrate(repeats=1)
    detail = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf is not None else None,
        "env": cache_state,
        "reruns": reruns,
        "drift": drift,
        # Per-query stage counts (r16): the fixed-term multiplier each
        # drift annotation uses; also a cheap plan-shape regression
        # signal (a stage-count jump on unchanged code = plan change).
        "stages": stages,
    }
    print(json.dumps(detail), file=sys.stderr)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass
    headline_queries = {
        name: timings[name]
        for name in (
            "q_tpch_q1", "q_tpch_q3", "q_cdc_apply", "q_dedup_minhash",
            "q_sim_topk", "q_join_asof", "q_sessionize", "q_text_stats",
        )
        if name in timings
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": headline_queries,
                "n_queries": len(timings),
                "n_reruns": len(reruns),
                # Sustained movers vs the 3-snapshot floor (name: ratio);
                # capped so the stdout line stays inside the driver's
                # tail capture even on a pathologically noisy box.
                "drift": {e["q"]: e["ratio"] for e in drift[:15]},
                "n_drift": len(drift),
                "detail": "BENCH_DETAIL.json",
                "sf": float(sf) if sf is not None else None,
                "env": cache_state,
            }
        )
    )


if __name__ == "__main__":
    main()
