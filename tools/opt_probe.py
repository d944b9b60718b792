"""r20 optimization probe: per-phase wall-clock attribution for the
heavy query families, using the SAME library calls the registered
queries make. Run on an idle box; pass probe names as argv.

Not part of the driver contract — a measurement tool (guide §1)."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.session import get_spark
from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("opt_probe")
spark.sparkContext.setLogLevel("ERROR")

_t0 = None


def tic(label=None):
    global _t0
    _t0 = time.perf_counter()


def toc(label):
    dt = time.perf_counter() - _t0
    print(f"  {label:42s} {dt:7.3f}s", flush=True)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def probe_sim_pq():
    from proof_of_concept___cdc_w_iceberg_spark.ext import ann
    print("== q_sim_pq phases ==")
    e = load(spark, SF, "embeddings").select("vec_id", "label", "embedding")
    tic(); subs = ann.pq_subvectors(e); noop(subs); toc("subvectors (noop)")
    tic()
    cb = ann._pq_group_means(
        subs.withColumn("g", F.col("vec_id") % ann.PQ_KS), "g"
    ).localCheckpoint(eager=True)
    toc("seed group_means + cp")
    for i in range(2):
        tic()
        cb = ann._pq_group_means(
            ann._pq_assign(subs, cb), "cid"
        ).localCheckpoint(eager=True)
        toc(f"lloyd iter {i} (assign+means+cp)")
    tic(); codes = ann.pq_encode(e, cb); noop(codes); toc("encode (noop)")
    codes = codes.localCheckpoint(eager=True)
    tic()
    short = ann.pq_adc_topk(e, cb, codes, k=ann.PQ_RERANK_SHORTLIST)
    noop(short)
    toc("adc_topk shortlist (noop)")
    tic()
    out = ann.pq_rerank_topk(e, cb, codes, k=5,
                             shortlist=ann.PQ_RERANK_SHORTLIST)
    noop(out)
    toc("rerank from codes cp (noop)")


def probe_stream_cms():
    from proof_of_concept___cdc_w_iceberg_spark.operators import sketches as sk
    from proof_of_concept___cdc_w_iceberg_spark.streaming import queries as sq
    print("== q_stream_cms phases ==")
    li = load(spark, SF, "lineitem").select(
        F.col("l_suppkey").alias("k"), "l_orderkey")
    tic(); li.count(); toc("scan lineitem")
    tic(); noop(sk.cms_sketch(li.select("k"))); toc("one-shot cms_sketch (noop)")
    state = sk.cms_empty_grid(li)
    conds = (F.col("l_orderkey") <= 20_000,
             F.col("l_orderkey").between(20_001, 40_000),
             F.col("l_orderkey") >= 40_001)
    for i, cond in enumerate(conds):
        tic()
        state = sq.cms_stream_apply(state, li.filter(cond).select("k"))
        toc(f"batch {i} apply+cp")
    tic()
    keys = li.groupBy("k").agg(F.count("*").alias("exact_cnt"))
    noop(sk.cms_topk(state, keys))
    toc("keys + topk readout (noop)")


def probe_wap_publish():
    import tempfile
    from proof_of_concept___cdc_w_iceberg_spark.cdc import queries as cq
    from proof_of_concept___cdc_w_iceberg_spark.cdc.branches import (
        BranchedMirror, wap_audit)
    print("== q_cdc_wap_publish phases ==")
    li, changes = cq._scale_mirror_and_changes(spark, SF)
    keys = ["l_orderkey", "l_linenumber"]
    path = os.path.join(tempfile.mkdtemp(prefix="probe_wap_"), "mirror")
    m = BranchedMirror(spark, path, keys=keys, n_buckets=16)
    tic(); m.init(li); toc("init (write v0)")
    tic(); m.branch_create("audit_good"); toc("branch_create")
    tic(); m.apply_to_branch("audit_good", changes); toc("apply_to_branch good")
    tic()
    audit = wap_audit(m.read_ref("audit_good").drop("__bucket"), keys,
                      batch_keys=changes)
    toc("wap_audit good")
    assert audit == {"null_keys": 0, "dup_keys": 0}
    tic(); m.fast_forward("main", "audit_good"); m.drop_branch("audit_good")
    toc("fast_forward+drop")
    bad = li.limit(50).select(
        F.col("l_orderkey"),
        F.lit(None).cast(dict(li.dtypes)["l_linenumber"]).alias("l_linenumber"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        F.lit("c").alias("op"), F.lit(9000).cast("long").alias("ts_ms"),
        (F.col("l_orderkey") * 10 + F.lit(3_000_000_000)).cast("long").alias("off"),
    )
    tic(); m.branch_create("audit_bad"); m.apply_to_branch("audit_bad", bad)
    toc("apply_to_branch bad")
    tic()
    audit = wap_audit(m.read_ref("audit_bad").drop("__bucket"), keys)
    toc("wap_audit bad")
    tic(); m.drop_branch("audit_bad")
    out = m.read_ref("main").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    out.count()
    toc("final read+count")


def probe_multiprobe_ab(rounds: int = 3):
    """Interleaved A/B of the multiprobe pair relation (wave 7): OLD
    shape (_cell_blocked_pairs candidate distinct + two embedding
    re-attach joins + ArrowEvalPython pair cosine) vs NEW shape
    (embedding rides the assignment; per-cell NumPy kernel;
    distinct on the scored triples)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext import similarity as sim
    from proof_of_concept___cdc_w_iceberg_spark.ext.vecexec import (
        cell_pair_scores, pair_cosine)
    print("== multiprobe pair relation A/B ==")
    e = load(spark, SF, "embeddings").select(
        "vec_id", "label", "embedding",
        sim._sqnorm(F.col("embedding")).alias("sq"))

    def edges_old():
        assign = sim.multiprobe_assign(e).persist()
        pairs = sim._cell_blocked_pairs(e, assign)
        cos = pair_cosine(F.col("a_emb"), F.col("b_emb"),
                          F.col("a_sq"), F.col("b_sq"))
        noop(pairs.filter(F.round(cos, 6) >= sim.SEM_T)
             .select("id_a", "id_b"))
        assign.unpersist()

    def edges_new():
        members = sim.multiprobe_assign(e, carry=("embedding",))
        noop(cell_pair_scores(members, cell_col="cell")
             .filter((F.col("src") < F.col("dst"))
                     & (F.round(F.col("cosine"), 6) >= sim.SEM_T))
             .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
             .distinct())

    for i in range(rounds):
        for label, fn in (("old", edges_old), ("new", edges_new)):
            tic()
            fn()
            toc(f"round {i} {label}")


PROBES = {
    "sim_pq": probe_sim_pq,
    "stream_cms": probe_stream_cms,
    "wap_publish": probe_wap_publish,
    "multiprobe_ab": probe_multiprobe_ab,
}

if __name__ == "__main__":
    for name in (sys.argv[1:] or list(PROBES)):
        t0 = time.perf_counter()
        PROBES[name]()
        print(f"== total {name}: {time.perf_counter()-t0:.3f}s", flush=True)
