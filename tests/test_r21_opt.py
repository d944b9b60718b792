"""r21 optimization-round equivalence pins (OPTIMIZATION_r21.md).

Same contract as tests/test_r20_opt.py: every optimization here
restructured an operator's internals while the registered results must
stay bit-identical; each test pins the restructured primitive against
the reference shape it replaced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.ext import ann
from proof_of_concept___cdc_w_iceberg_spark.ext.similarity import _sqnorm
from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load(spark, SF, "embeddings").select(
        "vec_id", "label", "embedding",
        _sqnorm(F.col("embedding")).alias("sq"),
    )


def _rows(df):
    return sorted(
        (r["src"], r["dst"], repr(r["cosine"]), r["rn"])
        for r in df.collect()
    )


def test_knn_graph_state_kernel_matches_fold(spark):
    """knn_graph_state's cell_pair_scores kernel build must equal the
    join+fold reference bit-for-bit (unrounded cosines included — the
    state carries full precision)."""
    e = _emb(spark)
    new = ann.knn_graph_state(e)
    old = ann._knn_topk(ann._knn_scored(e, e))
    assert _rows(new) == _rows(old)


def test_knn_delete_apply_cogroup_rerank_matches_fold(spark):
    """knn_graph_delete_apply's cogroup-kernel rerank must equal the
    join+fold reference on the registered delete shape (every 11th
    vector removed)."""
    e = _emb(spark).localCheckpoint(eager=True)
    state = ann.knn_graph_state(e).localCheckpoint(eager=True)
    dels = e.filter(F.col("vec_id") % 11 == 3).select("vec_id")
    surv = e.filter(F.col("vec_id") % 11 != 3)

    new = ann.knn_graph_delete_apply(state, surv, dels)

    # Reference: the pre-r21 shape (join + interpreted fold rerank).
    dels_b = F.broadcast(dels.select(F.col("vec_id").alias("del_id")))
    alive = state.join(dels_b, F.col("src") == F.col("del_id"), "left_anti")
    broken = (
        alive.join(dels_b, F.col("dst") == F.col("del_id"), "left_semi")
        .select("src")
        .distinct()
    )
    keep = alive.join(broken, "src", "left_anti")
    e_broken = surv.join(broken.withColumnRenamed("src", "vec_id"), "vec_id")
    old = keep.unionByName(
        ann._knn_topk(ann._knn_scored(e_broken, surv))
    )
    assert _rows(new) == _rows(old)


def test_substr_state_build_materialize_hook_row_preserving(spark):
    """substr_state_build(materialize=localCheckpoint) must return the
    same three relations as the unhooked build (the hook only cuts
    lineage — q_dedup_substr_incremental's r21 restructure)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.dedup import (
        substr_state_build,
    )

    docs = load(spark, SF, "documents").select("doc_id", "text")
    g0, h0, r0 = substr_state_build(docs, w=3)
    g1, h1, r1 = substr_state_build(
        docs, w=3, materialize=lambda df: df.localCheckpoint(eager=True)
    )
    assert sorted(map(tuple, g0.collect())) == sorted(map(tuple, g1.collect()))
    assert sorted(map(tuple, h0.collect())) == sorted(map(tuple, h1.collect()))
    assert sorted(map(tuple, r0.collect())) == sorted(map(tuple, r1.collect()))
