"""r20 optimization-round equivalence pins (OPTIMIZATION_r20.md).

Each optimization here restructured an operator's internals while the
registered results must stay bit-identical. These tests pin the
restructured primitive against the reference shape it replaced, on
inputs that include the corners the fuzz tiers care about (NULL keys,
duplicate rows, NULL group keys).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import mirror_diff


def test_basket_pair_explode_matches_self_join(spark):
    """The in-task basket pair explode (wave 8) == the line-level
    self-join it replaced, on a frame with duplicate (order, part)
    rows AND a NULL order key (which the old equi-join never matched)."""
    li = spark.createDataFrame(
        [
            (1, 10), (1, 11), (1, 10),   # dup (1,10) — distinct-collapsed
            (2, 10), (2, 11), (2, 12),
            (3, 10), (3, 11),
            (None, 10), (None, 11),      # NULL order: no pairs, no total
        ],
        "l_orderkey long, l_partkey long",
    )
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    expected = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    keyed = baskets.filter(F.col("l_orderkey").isNotNull())
    lhs = keyed.select("ps", F.posexplode("ps").alias("i", "part_a"))
    got = (
        lhs.select(
            "part_a",
            F.explode(
                F.slice(F.col("ps"), F.col("i") + F.lit(2),
                        F.size("ps") - F.col("i") - F.lit(1))
            ).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
    )
    assert mirror_diff(got, expected).count() == 0
    # NULL-order exclusion: the old countDistinct total.
    n_old = items.agg(F.countDistinct("l_orderkey")).first()[0]
    n_new = keyed.count()
    assert n_old == n_new == 3


def test_triangle_edge_weights_match_line_level_self_join(spark):
    """The (suppkey, cnt)-array pair explode == the LINE-level
    self-join COUNT(*): Σ_orders cnt_u·cnt_v, including multiplicity
    from a supplier appearing on several lines of one order."""
    li = spark.createDataFrame(
        [
            (1, 100), (1, 100), (1, 200),       # cnt_100=2 -> w(100,200)=2
            (2, 100), (2, 200), (2, 200),       # w(100,200)+=2
            (3, 100), (3, 300),
        ],
        "l_orderkey long, l_suppkey long",
    )
    a, b = li.alias("a"), li.alias("b")
    expected = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count("*").alias("w"))
    )
    per = li.groupBy("l_orderkey", "l_suppkey").agg(F.count("*").alias("c"))
    baskets = per.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.struct("l_suppkey", "c"))).alias("ss")
    )
    lhs = baskets.select("ss", F.posexplode("ss").alias("i", "sa"))
    got = (
        lhs.select(
            F.col("sa.l_suppkey").alias("u"),
            F.col("sa.c").alias("ca"),
            F.explode(
                F.slice(F.col("ss"), F.col("i") + F.lit(2),
                        F.size("ss") - F.col("i") - F.lit(1))
            ).alias("sb"),
        )
        .groupBy("u", F.col("sb.l_suppkey").alias("v"))
        .agg(F.sum(F.col("ca") * F.col("sb.c")).alias("w"))
    )
    assert mirror_diff(got, expected).count() == 0


def test_multiprobe_members_pair_set_matches_blocked_join(spark, sf_dir):
    """The carry-embedding member relation + per-cell kernel (wave 7)
    emits exactly the pair set _cell_blocked_pairs produced, with
    bit-identical cosines (struct-packed comparison)."""
    from proof_of_concept___cdc_w_iceberg_spark.ext.similarity import (
        _cell_blocked_pairs,
        _sqnorm,
        multiprobe_assign,
    )
    from proof_of_concept___cdc_w_iceberg_spark.ext.vecexec import (
        cell_pair_scores,
        pair_cosine,
    )
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", _sqnorm(F.col("embedding")).alias("sq")
    )
    assign = multiprobe_assign(e)
    old = _cell_blocked_pairs(e, assign).select(
        "id_a", "id_b",
        pair_cosine(F.col("a_emb"), F.col("b_emb"),
                    F.col("a_sq"), F.col("b_sq")).alias("cosine"),
    )
    members = multiprobe_assign(e, carry=("embedding",))
    new = (
        cell_pair_scores(members, cell_col="cell")
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"),
                "cosine")
    )
    import struct

    def packed(df):
        return {
            (r["id_a"], r["id_b"], struct.pack("<d", r["cosine"]))
            for r in df.collect()
        }

    o, n = packed(old), packed(new)
    assert o == n and len(o) > 0
