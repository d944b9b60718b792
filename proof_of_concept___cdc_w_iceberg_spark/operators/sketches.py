"""§2.12 — sketch-driven scale operators (r04).

The reference's query layer (Trino via `init_for_test.py:66-79`)
leans on runtime filters and approximate sketches at scale; these
operators implement the two workhorses natively so the plan is
inspectable:

- ``q_join_bloom``: semi-join reduction through a Bloom bitset — the
  runtime-filter pattern that prunes a 100 TB fact scan *before* the
  shuffle join, with a filter whose size is CONSTANT (m bits) no
  matter how many dimension keys qualify.
- ``q_sketch_cms``: count-min heavy hitters — frequency estimation
  whose state is a fixed depth×width grid, map-side combinable, so
  the shuffle carries O(d·w) cells per task regardless of stream
  size.

Hashes are md5-derived via the engine-portable hex→u32 decode
(``instr`` on the hex alphabet), so DuckDB rebuilds the identical
bit positions / cells and results hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load
from ._util import dec_sum


def _hex_u32_sql(h: str) -> str:
    """First 8 hex chars of md5 string ``h`` as a 0..2^32-1 integer —
    same portable decode as ext/corpus.py."""
    nibbles = [
        f"(CAST(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) AS BIGINT) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(nibbles) + ")"


def _hex_slice_sql(h: str, start: int, nibbles: int) -> str:
    """Decode ``nibbles`` hex chars of ``h`` starting at 1-indexed
    ``start`` into an integer. Keeping the slice narrow matters:
    every nibble term re-references (and so re-evaluates) the hash
    expression, so a 13-bit Bloom position reads 4 nibbles and an
    8-bit CMS cell reads 2 — not a full u32 decode."""
    terms = [
        f"(CAST(instr('0123456789abcdef', substr({h}, {start + i}, 1)) AS BIGINT) - 1)"
        f" * {16 ** (nibbles - 1 - i)}"
        for i in range(nibbles)
    ]
    return "(" + " + ".join(terms) + ")"


# r20 optimization (guide §1.2/§2.3): every nibble term above textually
# re-references its hash argument, so a Spark-side call that passes the
# md5 INLINE re-evaluates the md5 once per nibble per row — the
# executed plans showed 8 md5 calls per row for one CMS cell set, 12
# for the Bloom positions, and up to ~150 for the HLL rho ladder
# (whole-stage codegen's subexpression elimination does not merge them
# through Generate/posexplode). The Spark-side builders below therefore
# HOIST the md5 (and, for HLL, the 24-bit rank value) into its own
# projection, referenced by name: one evaluation per row, values
# bit-identical (same hash text, same decode — measured 2.5x on the
# one-shot CMS build, plan md5-count 8 -> 1). CollapseProject keeps the
# hoist because the hash column is referenced several times by
# non-cheap consumers. The *_sql builders stay for the DuckDB oracles
# (string SQL, where re-evaluation is the oracle's business) and for
# the law tests that pin the Spark/SQL twin-ness.
_H = "__h"


BLOOM_M = 8192  # bits in the filter
BLOOM_K = 3     # hash functions

# Position for hash i of key k: 16-bit slice i of ONE md5 per key
# (bytes of a cryptographic hash are independent), mod m.
def _bloom_pos_sql(i: int, key: str, vc: str = "VARCHAR") -> str:
    h = "md5('bf|' || CAST(" + key + " AS " + vc + "))"
    return f"({_hex_slice_sql(h, 4 * i + 1, 4)} % {BLOOM_M})"


BLOOM_JOIN_SQL = f"""
        WITH dim AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        bloom AS (
            SELECT DISTINCT pos FROM (
                {' UNION ALL '.join(
                    f"SELECT {_bloom_pos_sql(i, 'c_custkey')} AS pos FROM dim"
                    for i in range(BLOOM_K)
                )}
            )
        ),
        survived AS (
            SELECT o.* FROM orders o
            WHERE {' AND '.join(
                f"{_bloom_pos_sql(i, 'o.o_custkey')} IN (SELECT pos FROM bloom)"
                for i in range(BLOOM_K)
            )}
        )
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM survived o JOIN dim d ON o.o_custkey = d.c_custkey
        GROUP BY o.o_orderpriority
"""


def _bloom_hash_sql(key: str, vc: str = "VARCHAR") -> str:
    return "md5('bf|' || CAST(" + key + " AS " + vc + "))"


def _bloom_pos_from_h(i: int):
    """Position i decoded from the materialized hash column ``__h`` —
    same slice arithmetic as _bloom_pos_sql, one md5 per row total."""
    return F.expr(f"({_hex_slice_sql(_H, 4 * i + 1, 4)} % {BLOOM_M})")


def bloom_positions(dim, key: str):
    """Occupied-position relation (pos) of the m-bit Bloom set over a
    dimension key column — ≤ m distinct rows however many keys
    qualify; SET-UNION-mergeable (a Bloom bitset merges by OR), which
    is what the streaming twin exploits.

    r20 plan shape: ONE dimension scan with the md5 hoisted (the old
    shape unioned k scans, each re-evaluating the md5 per nibble —
    3 scans x 16 md5 calls per row); explode emits the same k
    positions per row, distinct is unchanged."""
    hashed = dim.select(F.expr(_bloom_hash_sql(key, "STRING")).alias(_H))
    return hashed.select(
        F.explode(
            F.array(*[_bloom_pos_from_h(i) for i in range(BLOOM_K)])
        ).alias("pos")
    ).distinct()  # ≤ m rows: constant-size broadcast


def bloom_reduce_join(o, dim, bloom):
    """Fact reduction through the occupied-position relation (k
    broadcast semi-joins) followed by the exact join that removes
    false positives, aggregated to the per-priority report. Shared by
    the one-shot build and the streaming-maintenance twin.

    r20: all k probe positions come from ONE materialized md5 per fact
    row (was: one inline md5 re-evaluated 4 nibbles x k times); the
    three semi-joins are unchanged."""
    hashed = (
        o.select("*", F.expr(_bloom_hash_sql("o_custkey", "STRING")).alias(_H))
        .select(
            "*",
            *[_bloom_pos_from_h(i).alias(f"_p{i}") for i in range(BLOOM_K)],
        )
        .drop(_H)
    )
    survived = hashed
    for i in range(BLOOM_K):
        survived = survived.join(
            F.broadcast(bloom), F.col(f"_p{i}") == F.col("pos"), "left_semi"
        )
    survived = survived.drop(*[f"_p{i}" for i in range(BLOOM_K)])
    return (
        survived.join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("sum_price"))
    )


@query("q_join_bloom", oracle=BLOOM_JOIN_SQL)
def q_join_bloom(spark, sf_dir):
    """Bloom-filter semi-join reduction (runtime-filter shape).

    Build an m=8192-bit Bloom set over the qualifying dimension keys
    (k=3 md5-derived hash positions), reduce the fact with three
    broadcast semi-joins against the occupied-position relation, THEN
    run the exact join to eliminate false positives. The occupied-
    position relation has AT MOST m distinct rows however many keys
    qualify — unlike broadcasting the key set itself, the reduction
    side stays constant-size at 100 TB. Catalyst does this internally
    (``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled``); this
    is the explicit, plan-visible rendering with an exact oracle.

    Reference parity: Trino's dynamic filtering on the same join shape
    (`init_for_test.py:66-79` query surface).
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    dim = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return bloom_reduce_join(o, dim, bloom_positions(dim, "c_custkey"))


def _bloom_rollup_oracle() -> str:
    def pos_union(src: str, key: str, grp: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {grp} AS g, {_bloom_pos_sql(i, key)} AS pos FROM {src}"
            for i in range(BLOOM_K)
        )

    opos_union = " UNION ALL ".join(
        f"SELECT o_orderkey, {i} AS i, {_bloom_pos_sql(i, 'o_custkey')} AS pos "
        f"FROM orders"
        for i in range(BLOOM_K)
    )
    return f"""
        WITH dim AS (SELECT c_mktsegment AS g, c_custkey AS k FROM customer),
        filters AS (
            SELECT DISTINCT g, pos FROM ({pos_union('dim', 'k', 'g')})
            UNION ALL
            SELECT DISTINCT 'total' AS g, pos
            FROM ({pos_union('dim', 'k', "'total'")})
        ),
        n_pos AS (SELECT g, COUNT(*) AS n_pos FROM filters GROUP BY g),
        n_keys AS (
            SELECT g, COUNT(*) AS n_keys FROM dim GROUP BY g
            UNION ALL
            SELECT 'total' AS g, COUNT(*) AS n_keys FROM dim
        ),
        opos AS ({opos_union}),
        surv AS (
            SELECT f.g, op.o_orderkey
            FROM opos op JOIN filters f ON f.pos = op.pos
            GROUP BY f.g, op.o_orderkey
            HAVING COUNT(DISTINCT op.i) = {BLOOM_K}
        ),
        n_surv AS (SELECT g, COUNT(*) AS n_survived FROM surv GROUP BY g),
        n_exact AS (
            SELECT d.g, COUNT(*) AS n_exact
            FROM orders o JOIN dim d ON o.o_custkey = d.k GROUP BY d.g
            UNION ALL
            SELECT 'total' AS g, COUNT(*) AS n_exact
            FROM orders o JOIN (SELECT DISTINCT k FROM dim) d
              ON o.o_custkey = d.k
        )
        SELECT k.g, CAST(k.n_keys AS BIGINT) AS n_keys,
               CAST(p.n_pos AS BIGINT) AS n_pos,
               CAST(COALESCE(s.n_survived, 0) AS BIGINT) AS n_survived,
               CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact
        FROM n_keys k
        JOIN n_pos p ON p.g = k.g
        LEFT JOIN n_surv s ON s.g = k.g
        LEFT JOIN n_exact e ON e.g = k.g
    """


@query("q_sketch_bloom_rollup", oracle=_bloom_rollup_oracle())
def q_sketch_bloom_rollup(spark, sf_dir):
    """Bloom rollup — the membership member of the sketch-as-
    materialized-aggregate column: one occupied-position relation PER
    MARKET SEGMENT from a single dimension scan, plus the all-segments
    filter obtained by OR-MERGING the leaves (distinct-union on ≤ m-row
    position sets — a Bloom bitset merges by OR), never re-hashing the
    dimension. The ORACLE builds the total filter ONE-SHOT over the
    whole dimension, so the driver hash check proves the merge law at
    the rollup grain (batch complement of q_stream_bloom's law over
    micro-batches) — and the per-grain fact probe (orders passing all
    k position tests, false positives included) makes the check
    sensitive to the exact merged position SET, not just its size.
    Exact qualifying counts ride along so per-filter selectivity and
    false-positive overhead are visible in-band.

    Plan shape: one dim scan → posexplode to (g, pos) distinct (the
    leaves, <= |segments|·m rows), one bounded distinct for the total,
    then ONE fact scan posexploded to k position rows equi-joined
    against the broadcast filter relation and count-distinct-folded
    per (g, orderkey) — linear in the fact with a ≤ (k · matched
    groups) row expansion, no per-group pass. All-integer output."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("g"), F.col("c_custkey").alias("k")
    )
    kpos = [_bloom_pos_from_h(i) for i in range(BLOOM_K)]
    leaf = (
        c.select("g", F.expr(_bloom_hash_sql("k", "STRING")).alias(_H))
        .select("g", F.posexplode(F.array(*kpos)).alias("i", "pos"))
        .select("g", "pos")
        .distinct()
    )
    filters = leaf.unionByName(
        leaf.select(F.lit("total").alias("g"), "pos").distinct()
    )
    n_pos = filters.groupBy("g").agg(F.count("*").alias("n_pos"))
    n_keys = (
        c.groupBy("g").agg(F.count("*").alias("n_keys"))
        .unionByName(
            c.agg(F.count("*").alias("n_keys")).select(
                F.lit("total").alias("g"), "n_keys"
            )
        )
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("k")
    )
    opos = o.select(
        "o_orderkey", F.expr(_bloom_hash_sql("k", "STRING")).alias(_H)
    ).select("o_orderkey", F.posexplode(F.array(*kpos)).alias("i", "pos"))
    surv = (
        opos.join(F.broadcast(filters), "pos")
        .groupBy("g", "o_orderkey")
        .agg(F.countDistinct("i").alias("ni"))
        .filter(F.col("ni") == BLOOM_K)
        .groupBy("g")
        .agg(F.count("*").alias("n_survived"))
    )
    exact = (
        o.join(c, "k").groupBy("g").agg(F.count("*").alias("n_exact"))
        .unionByName(
            o.join(c.select("k").distinct(), "k")
            .agg(F.count("*").alias("n_exact"))
            .select(F.lit("total").alias("g"), "n_exact")
        )
    )
    # surv/exact are ≤ (|segments|+1)-row aggregates; the md5-hoist
    # projection inflates their width-scaled size ESTIMATE enough to
    # flip the planner to sort-merge at small scale — pin the strategy
    # the real sizes warrant (guide §3.1: explicit broadcast when
    # estimates are wrong).
    return (
        n_keys.join(n_pos, "g")
        .join(F.broadcast(surv), "g", "left")
        .join(F.broadcast(exact), "g", "left")
        .select(
            "g",
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.coalesce("n_survived", F.lit(0)).cast("long").alias("n_survived"),
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
        )
    )


CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPN = 10


# Cell for sketch row r: byte r (two hex chars) of ONE md5 per key —
# width 256 needs exactly 8 bits, so the decode reads 2 nibbles, not 8.
def _cms_cell_sql(row: int, key: str, vc: str = "VARCHAR") -> str:
    h = "md5('cms|' || CAST(" + key + " AS " + vc + "))"
    return _hex_slice_sql(h, 2 * row + 1, 2)


CMS_SKETCH_SQL = f"""
        WITH stream AS (SELECT l_suppkey AS k FROM lineitem),
        cells AS (
            {' UNION ALL '.join(
                f"SELECT {r} AS r, {_cms_cell_sql(r, 'k')} AS c, COUNT(*) AS cnt "
                f"FROM stream GROUP BY 2"
                for r in range(CMS_DEPTH)
            )}
        ),
        keys AS (SELECT k, COUNT(*) AS exact_cnt FROM stream GROUP BY k),
        est AS (
            SELECT keys.k, keys.exact_cnt,
                   MIN(cells.cnt) AS est_cnt
            FROM keys JOIN cells
              ON cells.c = CASE cells.r
                    {' '.join(f"WHEN {r} THEN {_cms_cell_sql(r, 'keys.k')}" for r in range(CMS_DEPTH))}
                 END
            GROUP BY keys.k, keys.exact_cnt
        ),
        ranked AS (
            SELECT k, CAST(est_cnt AS BIGINT) AS est_cnt,
                   CAST(exact_cnt AS BIGINT) AS exact_cnt,
                   row_number() OVER (ORDER BY est_cnt DESC, k) AS rn
            FROM est
        )
        SELECT k, est_cnt, exact_cnt FROM ranked WHERE rn <= {CMS_TOPN}
"""


def cms_cell_exprs():
    """The d per-key (row, cell) coordinate expressions (inline-md5
    form — kept for the law tests; production paths use
    cms_cells_hoisted)."""
    return [F.expr(_cms_cell_sql(r, "k", "STRING")) for r in range(CMS_DEPTH)]


def _cms_hash_sql(key: str, vc: str = "VARCHAR") -> str:
    return "md5('cms|' || CAST(" + key + " AS " + vc + "))"


def cms_cells_hoisted(df, *keep: str):
    """(keep..., r, c): the d (row, cell) coordinates of column ``k``
    with the md5 materialized ONCE per row (was: re-evaluated 2
    nibbles x d times — plan md5-count 8 -> 1, measured 2.5x on the
    one-shot build). Same hash text, same decode, bit-identical
    cells."""
    cells = [
        F.expr(_hex_slice_sql(_H, 2 * r + 1, 2)) for r in range(CMS_DEPTH)
    ]
    return (
        df.select(*keep, F.expr(_cms_hash_sql("k", "STRING")).alias(_H))
        .select(*keep, F.posexplode(F.array(*cells)).alias("r", "c"))
    )


def cms_empty_grid(df):
    """Typed empty (r, c, cnt) grid — the seed state for the streaming
    and retraction twins. ONE definition (review finding r14: the same
    three-line construction was copy-pasted at five sites) so a future
    grid-schema change cannot silently union-coerce some seeds and not
    others — the q_stream_theta bigint-seed hazard class."""
    return df.select(
        F.lit(0).alias("r"),
        F.lit(0).cast("bigint").alias("c"),
        F.lit(0).cast("bigint").alias("cnt"),
    ).limit(0)


def cms_sketch(li):
    """depth×width count grid over a (k) stream — ≤ d·w rows, built in
    one map-combinable pass; cell-wise SUM-mergeable (counts are a
    monoid), which is what the streaming twin exploits."""
    return (
        cms_cells_hoisted(li)
        .groupBy("r", "c")
        .agg(F.count("*").alias("cnt"))
    )


def cms_topk(sketch, keys):
    """Heavy-hitter read-out: probe each candidate key's d cells with
    ONE broadcast (r, c) equi-join against the ≤ d·w-row sketch, min
    per key, fully-ordered top-N. Shared by the one-shot build and the
    streaming-maintenance twin."""
    probe = cms_cells_hoisted(keys, "k", "exact_cnt")
    est = (
        probe.join(F.broadcast(sketch), ["r", "c"], "inner")
        .groupBy("k", "exact_cnt")
        .agg(F.min("cnt").alias("min_cnt"))
        .select(
            "k",
            F.col("min_cnt").cast("long").alias("est_cnt"),
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
        )
    )
    return est.orderBy(F.col("est_cnt").desc(), F.col("k")).limit(CMS_TOPN)


@query("q_sketch_cms", oracle=CMS_SKETCH_SQL)
def q_sketch_cms(spark, sf_dir):
    """Count-min-sketch heavy hitters over the lineitem supplier stream.

    The sketch is a fixed depth×width (4×256) count grid built in ONE
    stream scan: each row posexplodes its d (row, cell) coordinates and
    a single map-combinable groupBy(r, c) accumulates them, so the
    shuffle carries at most d·w=1024 partial cells per task — CONSTANT
    state however large the stream (the point of CMS at 100 TB; exact
    per-key counting shuffles |keys| instead). Estimates (min over the
    key's d cells, the classic one-sided overestimate) are joined back
    for the top-10 report next to the exact count so the error is
    visible in-band.

    The probe posexplodes each candidate key's d cells and makes ONE
    broadcast equi-join on (r, c) against the tiny sketch relation
    (≤1024 rows), then min-aggregates per key — one sketch evaluation,
    one join, instead of a join per depth row. md5-derived cells keep
    DuckDB bit-identical.
    """
    from ..sources.tables import parallel

    li = parallel(
        load(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k"))
    )
    keys = li.groupBy("k").agg(F.count("*").alias("exact_cnt"))
    # Fully-ordered top-N with a key tiebreaker -> TakeOrderedAndProject
    # (per-partition heads merged on the driver, no single-task sort).
    return cms_topk(cms_sketch(li), keys)


CMS_ROLLUP_TOPN = 5


def _cms_rollup_oracle() -> str:
    leaf_union = " UNION ALL ".join(
        f"SELECT g, {r} AS r, {_cms_cell_sql(r, 'k')} AS c, COUNT(*) AS cnt "
        f"FROM stream GROUP BY 1, 3"
        for r in range(CMS_DEPTH)
    )
    total_union = " UNION ALL ".join(
        f"SELECT 'total' AS g, {r} AS r, {_cms_cell_sql(r, 'k')} AS c, "
        f"COUNT(*) AS cnt FROM stream GROUP BY 3"
        for r in range(CMS_DEPTH)
    )
    probe_case = " ".join(
        f"WHEN {r} THEN {_cms_cell_sql(r, 'keys.k')}" for r in range(CMS_DEPTH)
    )
    return f"""
        WITH stream AS (
            SELECT CAST(YEAR(l_shipdate) AS VARCHAR) AS g, l_suppkey AS k
            FROM lineitem
        ),
        grid AS (
            {leaf_union}
            UNION ALL
            {total_union}
        ),
        keys AS (
            SELECT g, k, COUNT(*) AS exact_cnt FROM stream GROUP BY 1, 2
            UNION ALL
            SELECT 'total' AS g, k, COUNT(*) AS exact_cnt FROM stream GROUP BY 2
        ),
        est AS (
            SELECT keys.g, keys.k, keys.exact_cnt, MIN(grid.cnt) AS min_cnt
            FROM keys JOIN grid
              ON grid.g = keys.g
             AND grid.c = CASE grid.r {probe_case} END
            GROUP BY 1, 2, 3
        ),
        ranked AS (
            SELECT g, k, CAST(min_cnt AS BIGINT) AS est_cnt,
                   CAST(exact_cnt AS BIGINT) AS exact_cnt,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY min_cnt DESC, k) AS rn
            FROM est
        )
        SELECT g, k, est_cnt, exact_cnt FROM ranked WHERE rn <= {CMS_ROLLUP_TOPN}
    """


@query("q_sketch_cms_rollup", oracle=_cms_rollup_oracle())
def q_sketch_cms_rollup(spark, sf_dir):
    """CMS rollup — the frequency member of the sketch-as-materialized-
    aggregate column (q_sketch_hll_rollup is the cardinality member):
    one depth×width count grid PER SHIP YEAR from a single stream
    scan, plus the 'total' grid obtained by CELL-WISE SUM-MERGING the
    leaf grids — never re-scanning the stream. This is how a 100 TB
    pipeline serves "heavy hitters per day AND per month AND all-time"
    from one daily sketch table: counts are a monoid, so every coarser
    granularity is a ≤ d·w-row-per-bucket addition. The ORACLE builds
    the total grid ONE-SHOT from the stream, so the driver hash check
    proves the merge law at the rollup grain (the batch complement of
    q_stream_cms's law over micro-batches); per-group exact counts
    ride along in-band so the one-sided CMS overestimate is visible.

    Plan shape: one scan → one map-combined groupBy(g, r, c) count
    (the leaves, ≤ |years|·d·w rows), a second bounded SUM for the
    total, then ONE broadcast (g, r, c) probe join (the grid relation
    is ≤ (|years|+1)·1024 rows) and a per-group rank window — every
    post-leaf relation bounded by buckets × grid size, independent of
    stream length. All-integer arithmetic: no cross-engine float
    hazard anywhere."""
    li = load(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("string").alias("g"),
        F.col("l_suppkey").alias("k"),
    )
    leaf = (
        cms_cells_hoisted(li, "g")
        .groupBy("g", "r", "c")
        .agg(F.count("*").alias("cnt"))
    )
    grid = leaf.unionByName(
        leaf.groupBy("r", "c")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("total").alias("g"), "r", "c", "cnt")
    )
    keys = (
        li.groupBy("g", "k")
        .agg(F.count("*").alias("exact_cnt"))
        .unionByName(
            li.groupBy("k")
            .agg(F.count("*").alias("exact_cnt"))
            .select(F.lit("total").alias("g"), "k", "exact_cnt")
        )
    )
    probe = cms_cells_hoisted(keys, "g", "k", "exact_cnt")
    est = (
        probe.join(F.broadcast(grid), ["g", "r", "c"], "inner")
        .groupBy("g", "k", "exact_cnt")
        .agg(F.min("cnt").alias("min_cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.col("min_cnt").desc(), F.col("k"))
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CMS_ROLLUP_TOPN)
        .select(
            "g", "k",
            F.col("min_cnt").cast("long").alias("est_cnt"),
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
        )
    )


HLL_B = 8                 # 2^8 = 256 registers
HLL_M = 1 << HLL_B
HLL_VBITS = 24            # rank bits per hash


def _hll_rho_sql(v: str) -> str:
    """1-indexed position of the first 1-bit (from the MSB) of the
    {HLL_VBITS}-bit value ``v`` — a pure comparison ladder, no log2
    (libm rounding at exact powers of two differs across engines)."""
    cases = " ".join(
        f"WHEN {v} >= {1 << (HLL_VBITS - i)} THEN {i}"
        for i in range(1, HLL_VBITS + 1)
    )
    return f"(CASE {cases} ELSE {HLL_VBITS + 1} END)"


def _hll_fields_sql(key: str, vc: str) -> tuple[str, str]:
    """(bucket, rho) expressions for one key: byte 0 of md5 routes to
    a register, the next 24 bits give the rank."""
    h = "md5('hll|' || CAST(" + key + " AS " + vc + "))"
    bucket = _hex_slice_sql(h, 1, 2)
    rho = _hll_rho_sql(_hex_slice_sql(h, 3, 6))
    return bucket, rho


_HLL_ALPHA = f"(0.7213 / (1.0 + 1.079 / {HLL_M}.0))"


def _hll_oracle(stream_sql: str, key: str) -> str:
    bucket, rho = _hll_fields_sql(key, "VARCHAR")
    return f"""
        WITH stream AS ({stream_sql}),
        regs AS (
            SELECT {bucket} AS j, MAX({rho}) AS m
            FROM stream GROUP BY 1
        ),
        spine AS (SELECT CAST(t.range AS BIGINT) AS j FROM range({HLL_M}) t),
        full_regs AS (
            SELECT s.j, COALESCE(r.m, 0) AS m
            FROM spine s LEFT JOIN regs r ON r.j = s.j
        ),
        z AS (
            SELECT CAST(SUM(CAST(POWER(2.0, -m) AS DECIMAL(38,30)))
                        AS DOUBLE) AS isum
            FROM full_regs
        ),
        exact AS (SELECT COUNT(DISTINCT k) AS n_exact FROM stream)
        SELECT CAST(exact.n_exact AS BIGINT) AS n_exact,
               ROUND({_HLL_ALPHA} * {HLL_M}.0 * {HLL_M}.0 / z.isum, 4) AS est,
               ROUND(ABS({_HLL_ALPHA} * {HLL_M}.0 * {HLL_M}.0 / z.isum
                         - exact.n_exact) / exact.n_exact, 4) AS rel_err
        FROM exact, z
    """


HLL_SKETCH_SQL = _hll_oracle("SELECT o_orderkey AS k FROM orders", "k")


def _hll_hash_sql(key: str, vc: str = "VARCHAR") -> str:
    return "md5('hll|' || CAST(" + key + " AS " + vc + "))"


def hll_fields_hoisted(df_k, *keep: str):
    """(keep..., j, r): register index and rank for column ``k`` with
    the md5 AND the 24-bit rank value each materialized once per row.
    The inline form re-evaluated the md5 per nibble per CASE arm —
    up to ~150 calls per row through the rho ladder; here it is ONE
    md5, one 6-nibble decode, one ladder over the decoded column.
    Same hash text, same decode, bit-identical fields."""
    hashed = df_k.select(
        *keep, F.expr(_hll_hash_sql("k", "STRING")).alias(_H)
    )
    v = hashed.select(
        *keep,
        F.expr(_hex_slice_sql(_H, 1, 2)).alias("j"),
        F.expr(_hex_slice_sql(_H, 3, 6)).alias("__v"),
    )
    return v.select(*keep, "j", F.expr(_hll_rho_sql("__v")).alias("r"))


def hll_regs(df_k):
    """Sparse register relation (j, m) over a (k) stream — ≤ 2^B rows,
    one map-combined MAX aggregate; register-wise MAX-mergeable (max
    is a monoid), which is what the streaming twin exploits."""
    return (
        hll_fields_hoisted(df_k)
        .groupBy("j")
        .agg(F.max("r").alias("m"))
    )


def hll_readout(spark, regs, exact_src):
    """(n_exact, est, rel_err) from a register relation plus the exact
    stream for the in-band error column. Shared by the one-shot build
    and the streaming-maintenance twin — identical harmonic-mean
    arithmetic (DECIMAL(38,30)-exact 2^-m sum) either way."""
    spine = spark.range(HLL_M).select(F.col("id").alias("j"))
    full_regs = spine.join(F.broadcast(regs), "j", "left").select(
        "j", F.coalesce("m", F.lit(0)).alias("m")
    )
    z = full_regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m")).cast("decimal(38,30)"))
        .cast("double")
        .alias("isum")
    )
    exact = exact_src.agg(F.countDistinct("k").alias("n_exact"))
    est = F.expr(_HLL_ALPHA) * HLL_M * HLL_M / F.col("isum")
    return exact.crossJoin(F.broadcast(z)).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(est, 4).alias("est"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_err"),
    )


@query("q_sketch_hll", oracle=HLL_SKETCH_SQL)
def q_sketch_hll(spark, sf_dir):
    """Portable HyperLogLog distinct-count — built from first
    principles so the sketch itself is cross-engine exact (unlike
    approx_count_distinct, whose Datasketches binary no oracle can
    replay): md5 byte 0 routes each key to one of 256 registers, the
    next 24 bits yield the first-one rank via a comparison ladder (no
    log2 — libm rounding at exact powers differs across engines), and
    the register relation is a MAX-aggregate — 256 longs of state,
    map-combinable, and MERGEABLE (max is a monoid: per-partition
    sketches union by register-wise max; asserted in tests).

    The estimate is the raw HLL harmonic mean with the 2^-M sum done
    in DECIMAL(38,30) (exact — every 2^-M, M ≤ 25, terminates within
    30 decimal places), so est and rel_err hash-match the oracle to
    the rounded digit. Output carries the exact count beside the
    estimate, making the ~1.04/√m error budget visible in-band."""
    # o_orderkey: >=1500 distinct at every SF, keeping the sketch in
    # the raw-estimate regime (n >= 2.5m; below that, production HLLs
    # switch to linear counting -- out of scope for the portability demo)
    o = load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return hll_readout(spark, hll_regs(o), o)


# Rollup arithmetic: the grouped read-out exposed two 1-ulp cross-
# engine hazards the one-shot query dodges by luck — (a) DuckDB's
# DECIMAL(38,30)->DOUBLE cast lands 1 ulp under the exactly-
# representable harmonic sum (42.0849609375 for the 1995 bucket at
# sf0.01), and (b) Spark parses the bare alpha literals as DECIMAL,
# folding a slightly different constant than DuckDB. So the rollup
# computes the harmonic sum as an EXACT INTEGER (sum of 2^(25-m),
# <= 256*2^25 = 2^33 << 2^53) divided by 2^25 — every step exact in
# both engines — and types every alpha literal DOUBLE explicitly.
_HLL_SHIFT = HLL_VBITS + 1  # max rho
_HLL_ALPHA_D = (
    f"(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
    f" + CAST(1.079 AS DOUBLE) / CAST({HLL_M} AS DOUBLE)))"
)


def _hll_rollup_oracle() -> str:
    bucket, rho = _hll_fields_sql("k", "VARCHAR")
    return f"""
        WITH stream AS (
            SELECT CAST(YEAR(o_orderdate) AS VARCHAR) AS g,
                   o_custkey AS k
            FROM orders
        ),
        leaf AS (
            SELECT g, {bucket} AS j, MAX({rho}) AS m
            FROM stream GROUP BY 1, 2
        ),
        regs AS (
            SELECT g, j, m FROM leaf
            UNION ALL
            SELECT 'total' AS g, j, MAX(m) AS m FROM leaf GROUP BY j
        ),
        grps AS (SELECT DISTINCT g FROM regs),
        spine AS (
            SELECT grps.g, CAST(t.range AS BIGINT) AS j
            FROM grps, range({HLL_M}) t
        ),
        full_regs AS (
            SELECT s.g, s.j, COALESCE(r.m, 0) AS m
            FROM spine s LEFT JOIN regs r ON r.g = s.g AND r.j = s.j
        ),
        z AS (
            SELECT g,
                   CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - m))
                        AS DOUBLE)
                       / CAST({1 << _HLL_SHIFT} AS DOUBLE) AS isum
            FROM full_regs GROUP BY g
        ),
        exact AS (
            SELECT g, COUNT(DISTINCT k) AS n_exact FROM stream GROUP BY g
            UNION ALL
            SELECT 'total' AS g, COUNT(DISTINCT k) AS n_exact FROM stream
        )
        -- FLOOR(x*1e4 + 0.5)/1e4, not ROUND: both engines then round
        -- through the IDENTICAL float chain, immune to the half-up /
        -- half-even divergence a ROUND tie exposes (the 1995 bucket's
        -- est lands exactly on a 4th-decimal tie at sf0.01)
        SELECT e.g AS bucket, CAST(e.n_exact AS BIGINT) AS n_exact,
               FLOOR({_HLL_ALPHA_D} * CAST({HLL_M * HLL_M} AS DOUBLE)
                     / z.isum * 10000 + 0.5) / 10000.0 AS est,
               FLOOR(ABS({_HLL_ALPHA_D} * CAST({HLL_M * HLL_M} AS DOUBLE)
                         / z.isum - e.n_exact) / e.n_exact * 10000 + 0.5)
                   / 10000.0 AS rel_err
        FROM exact e JOIN z ON z.g = e.g
    """


@query("q_sketch_hll_rollup", oracle=_hll_rollup_oracle())
def q_sketch_hll_rollup(spark, sf_dir):
    """HLL rollup — the sketch-as-materialized-aggregate pattern: one
    register relation PER TIME BUCKET (distinct customers per order
    year), plus the 'total' row obtained by MERGING the leaf sketches
    (register-wise max), never re-scanning the stream. This is how a
    100 TB pipeline serves "distinct users per day AND per month AND
    all-time" from one daily sketch table: the leaf build is the only
    stream scan; every coarser granularity is a ≤ 2^B-row-per-bucket
    max-merge. The exact counts ride along in-band, so the driver
    hash check proves BOTH the per-bucket estimates and that the
    merged total equals a from-scratch total build (merge law at the
    rollup grain — the batch complement of q_stream_hll's law over
    micro-batches).

    Plan shape: one scan → one map-combined groupBy(g, j) MAX (the
    leaves), a second ≤ |g|·2^B-row MAX for the total, then the
    per-group exact-integer harmonic read-out (Σ 2^(25−m) as BIGINT ÷
    2^25 — every arithmetic step exact and engine-identical; see the
    comment above _HLL_ALPHA_D) over a broadcast group×register spine
    — every post-leaf relation is bounded by buckets × registers,
    independent of stream size. Error-budget caveat as q_sketch_hll:
    the raw estimator needs n ≥ 2.5·m per bucket; the sf0.001 fixture
    (150 customers) sits below it, sf0.01+ is in-regime."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("string").alias("g"),
        F.col("o_custkey").alias("k"),
    )
    leaf = (
        hll_fields_hoisted(o, "g")
        .groupBy("g", "j")
        .agg(F.max("r").alias("m"))
    )
    regs = leaf.unionByName(
        leaf.groupBy("j").agg(F.max("m").alias("m")).select(
            F.lit("total").alias("g"), "j", "m"
        )
    )
    grps = regs.select("g").distinct()
    spine = grps.crossJoin(
        F.broadcast(spark.range(HLL_M).select(F.col("id").alias("j")))
    )
    full_regs = spine.join(regs, ["g", "j"], "left").select(
        "g", "j", F.coalesce("m", F.lit(0)).alias("m")
    )
    z = full_regs.groupBy("g").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SHIFT} - m)"))
            .cast("double")
            / F.lit(float(1 << _HLL_SHIFT))
        ).alias("isum")
    )
    exact = (
        o.groupBy("g").agg(F.countDistinct("k").alias("n_exact"))
        .unionByName(
            o.agg(F.countDistinct("k").alias("n_exact")).select(
                F.lit("total").alias("g"), "n_exact"
            )
        )
    )
    est = F.expr(_HLL_ALPHA_D) * F.lit(float(HLL_M * HLL_M)) / F.col("isum")
    # floor(x*1e4 + 0.5)/1e4, not F.round: identical float chain in
    # both engines (see the oracle's comment on the 1995-bucket tie)
    def r4(c):
        return F.floor(c * 10000 + 0.5) / 10000.0

    return exact.join(F.broadcast(z), "g").select(
        F.col("g").alias("bucket"),
        F.col("n_exact").cast("long").alias("n_exact"),
        r4(est).alias("est"),
        r4(F.abs(est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
    )


# --- mergeable quantile sketch (bottom-k hash sample) ----------------
#
# Completes the sketch column next to membership (bloom), frequency
# (CMS), and cardinality (HLL): one-pass MERGEABLE quantiles, the
# standard companion to q_percentile_exact_dist at 100 TB — the exact
# two-phase method re-scans one bucket per target, while the sketch is
# built in a single pass, merges across partitions/days/tables, and
# answers every quantile after the fact.
#
# Design (KLL/t-digest shape, but hash-deterministic so a SQL oracle
# can replay it bit-for-bit): a bottom-k-by-hash sample (KMV/bottom-k
# sketch, Cohen & Kaplan) over row-unique keys. md5 gives every row a
# deterministic uniform rank in [0,1); keeping the k smallest-hash
# rows IS a uniform k-sample of the stream, and the q-quantile
# estimate is the ceil(q*k)-th order statistic of the sample. The
# state is k (value, hash) pairs; merge = union then re-take the
# bottom k by hash — an idempotent, commutative, associative monoid
# (law asserted in tests/test_r11_ops.py), so per-partition sketches
# combine exactly like HLL's register-wise max. Sample error is the
# DKW bound O(sqrt(ln(1/d)/k)) on rank, ~1.9% rank error at k=1024 —
# surfaced in-band as rel_err against the exact order statistic, the
# same honesty contract as q_sketch_hll's n_exact/est/rel_err.

KQ_K = 1024                      # sketch size (rows kept)
KQ_TARGETS = (0.25, 0.5, 0.75, 0.9, 0.99)

# Row-unique sample key: (l_orderkey, l_linenumber) is the lineitem
# PK, so hashes are collision-managed and the bottom-k boundary is
# never a tie — both engines select the identical sample set.
_KQ_HASH = (
    "md5('kq|' || CAST(l_orderkey AS {vc}) || '|' "
    "|| CAST(l_linenumber AS {vc}))"
)

KQ_SKETCH_SQL = f"""
    WITH stream AS (
        SELECT CAST(l_extendedprice AS DOUBLE) AS v,
               {_KQ_HASH.format(vc="VARCHAR")} AS h
        FROM lineitem
    ),
    samp AS (SELECT v, h FROM stream ORDER BY h LIMIT {KQ_K}),
    sord AS (
        SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
               COUNT(*) OVER () AS kk
        FROM samp
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM stream),
    eord AS (
        SELECT v, row_number() OVER (ORDER BY v) AS rn FROM stream
    ),
    spine AS (
        SELECT CAST(q AS DOUBLE) AS q
        FROM (VALUES {", ".join(f"({q})" for q in KQ_TARGETS)}) t(q)
    ),
    est AS (
        SELECT s.q, o.v AS est, o.kk
        FROM spine s JOIN sord o
          ON o.rn = CAST(CEIL(s.q * o.kk) AS BIGINT)
    ),
    ex AS (
        SELECT s.q, e.v AS exact_v
        FROM spine s, nn, eord e
        WHERE e.rn = CAST(CEIL(s.q * nn.n) AS BIGINT)
    )
    SELECT est.q, est.est, ex.exact_v,
           ROUND(ABS(est.est - ex.exact_v) / ex.exact_v, 4) AS rel_err,
           CAST(est.kk AS BIGINT) AS k_sample,
           nn.n AS n_stream
    FROM est JOIN ex ON est.q = ex.q, nn
"""


def kq_sample(df, k: int = KQ_K):
    """Bottom-k-by-hash sketch state over a (v, h) relation: the k
    rows with the smallest hash. ``orderBy(h).limit(k)`` plans as
    TakeOrderedAndProject — each task keeps a k-row heap and the
    driver merges |tasks| k-row partials, so no stage ever sorts more
    than its own partition and the shuffle carries k rows per task at
    most: the map-combine shape that makes the sketch one-pass at
    100 TB. Merge law: kq_sample(A ∪ B) == kq_sample(kq_sample(A) ∪
    kq_sample(B)) — asserted in tests/test_r11_ops.py."""
    return df.orderBy("h").limit(k)


def _kq_exact_ranks(spark, li, targets, n=None):
    """Exact ceil(q*n)-th order statistics of column ``v`` via the
    two-phase bucket-count method (q_percentile_exact_dist,
    operators/aggregates.py — same driver-bounded state: 1 stats row
    + 64 bucket counts; phase 2 re-scans ONLY the target's bucket
    behind a pushed-down range predicate). Returns ``({q: value}, n)``.

    r21 (guide §1.2/§2.6): the stream count rides the min/max stats
    pass when the caller doesn't already have it (``n=None`` — one
    corpus aggregate instead of two), and the per-target phase-2
    probes are INDEPENDENT bounded jobs, so they overlap from a small
    thread pool instead of paying |targets| serial job latencies.
    No targets: no probes (an empty pool would be invalid)."""
    import math as _math

    if not targets:
        return {}, (li.count() if n is None else n)
    buckets = 64
    if n is None:
        lo, hi, n = li.agg(F.min("v"), F.max("v"), F.count("*")).first()
    else:
        lo, hi = li.agg(F.min("v"), F.max("v")).first()
    width = (hi - lo) / buckets or 1.0
    bucket = F.least(
        F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("long"),
        F.lit(buckets - 1).cast("long"),
    )
    counts = dict(
        (r["b"], r["cnt"])
        for r in li.groupBy(bucket.alias("b")).agg(F.count("*").alias("cnt")).collect()
    )

    def probe(q):
        k = int(_math.ceil(q * n))
        cum = 0
        for b in range(buckets):
            c = counts.get(b, 0)
            if cum + c >= k:
                break
            cum += c
        offset = k - cum
        b_lo = lo + (b - 1) * width
        b_hi = hi if b >= buckets - 2 else lo + (b + 2) * width
        in_bucket = li.filter(
            (F.col("v") >= F.lit(b_lo)) & (F.col("v") <= F.lit(b_hi)) & (bucket == b)
        )
        return in_bucket.orderBy("v").limit(offset).agg(F.max("v")).first()[0]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, len(targets))) as pool:
        out = dict(zip(targets, pool.map(probe, targets)))
    return out, n


@query("q_sketch_quantile", oracle=KQ_SKETCH_SQL)
def q_sketch_quantile(spark, sf_dir):
    """Mergeable quantile sketch (bottom-k hash sample) over
    l_extendedprice, with the exact order statistic and relative
    error in-band per target quantile.

    The sketch build is ONE pass: TakeOrderedAndProject keeps a
    k=1024-row heap per task and merges partials — the same
    partial-aggregate shape as HLL's register MAX, and the merge is a
    monoid (union → re-take bottom k), so day-level / table-level
    sketches combine without re-scanning (law in tests). The
    quantile read-out is a row_number over the BOUNDED k-row sample
    (never the stream — the only full-relation rank pass lives in the
    oracle), joined to a 5-row broadcast quantile spine. Exact values
    for the error column come from the bucket-count two-phase method,
    not a global sort. Everything after md5 is arithmetic both
    engines execute identically, so est/exact/rel_err hash-match."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v"),
        F.md5(
            F.concat(
                F.lit("kq|"),
                F.col("l_orderkey").cast("string"),
                F.lit("|"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("h"),
    )
    samp = kq_sample(li)
    # Both windows range over the k-row sketch state itself (bounded
    # by construction), not the stream.
    sord = samp.select(
        "v",
        F.row_number().over(Window.orderBy("v", "h")).alias("rn"),
        F.count("*").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("kk"),
    )
    # r21: the stream count rides _kq_exact_ranks' stats pass (one
    # corpus aggregate fewer) and the per-quantile probes overlap.
    exact, n = _kq_exact_ranks(spark, li, KQ_TARGETS)
    spine = spark.createDataFrame(
        [(float(q), float(exact[q])) for q in KQ_TARGETS], "q double, exact_v double"
    )
    est = sord.join(
        F.broadcast(spine),
        F.col("rn") == F.ceil(F.col("q") * F.col("kk")),
    )
    return est.select(
        "q",
        F.col("v").alias("est"),
        "exact_v",
        F.round(F.abs(F.col("v") - F.col("exact_v")) / F.col("exact_v"), 4).alias(
            "rel_err"
        ),
        F.col("kk").cast("long").alias("k_sample"),
        F.lit(n).cast("long").alias("n_stream"),
    )


# --- theta/KMV set-operation sketch ----------------------------------
#
# The sketch family's set-algebra member: bloom answers "is x in S",
# HLL answers "|S|", the bottom-k quantile sketch answers "value at
# rank q" — this answers |A ∪ B| and |A ∩ B| WITHOUT co-scanning A and
# B, the audience-overlap / cross-table-distinct question that at
# 100 TB is otherwise a giant distinct join. KMV/theta estimator
# (Bar-Yossef et al.'s distinct-elements sketch; the Datasketches
# "theta" production shape): hash every key to a uniform u32, keep
# the k smallest DISTINCT hash values per stream. theta = the k-th
# smallest (the sketch's inclusion threshold, 2^32 when the stream
# has fewer than k distinct keys — then the sketch is the exact key
# set); |S| ≈ (#hashes < theta) * 2^32 / theta. Because the SAME
# hash function sketches every stream, set ops happen ON THE SKETCHES:
# theta_AB = min(theta_A, theta_B), union counts distinct sketch
# hashes < theta_AB, intersection counts hashes in BOTH sketches
# < theta_AB — both estimates use the same (count / theta-fraction)
# formula, and both degrade gracefully to EXACT when the streams are
# smaller than k. Deterministic end to end (md5 via the portable hex
# decode), so the oracle replays every estimate bit-for-bit.

THETA_K = 256
_THETA_SPACE = float(1 << 32)


def _theta_hash_sql(key: str, vc: str = "VARCHAR") -> str:
    return _hex_u32_sql(f"md5('th|' || CAST({key} AS {vc}))")


def theta_hash_hoisted(keys, *keep: str):
    """(keep..., h): the u32 theta hash of column ``k`` with the md5
    materialized once per row (the inline u32 decode re-evaluated it
    8x — one per nibble). Same hash text, same decode, bit-identical
    values."""
    return keys.select(
        *keep, F.expr("md5('th|' || CAST(k AS STRING))").alias(_H)
    ).select(*keep, F.expr(_hex_u32_sql(_H)).alias("h"))


def _theta_stream_sql(year: int) -> str:
    return (
        "SELECT DISTINCT o_custkey AS k FROM orders "
        f"WHERE EXTRACT(year FROM o_orderdate) = {year}"
    )


THETA_SKETCH_SQL = f"""
    WITH a_keys AS ({_theta_stream_sql(1995)}),
    b_keys AS ({_theta_stream_sql(1996)}),
    a_h AS (SELECT {_theta_hash_sql("k")} AS h FROM a_keys),
    b_h AS (SELECT {_theta_hash_sql("k")} AS h FROM b_keys),
    sk_a AS (SELECT h FROM a_h ORDER BY h LIMIT {THETA_K}),
    sk_b AS (SELECT h FROM b_h ORDER BY h LIMIT {THETA_K}),
    th_a AS (SELECT CASE WHEN COUNT(*) < {THETA_K}
                         THEN CAST({1 << 32} AS BIGINT)
                         ELSE CAST(MAX(h) AS BIGINT) END AS theta FROM sk_a),
    th_b AS (SELECT CASE WHEN COUNT(*) < {THETA_K}
                         THEN CAST({1 << 32} AS BIGINT)
                         ELSE CAST(MAX(h) AS BIGINT) END AS theta FROM sk_b),
    th_u AS (SELECT LEAST(th_a.theta, th_b.theta) AS theta FROM th_a, th_b),
    -- each est_* is anchored FROM th_* (always 1 row) with the
    -- qualifying-hash count as a scalar subquery, so a zero-count
    -- regime yields est=0 instead of dropping the measure row —
    -- mirrors the Spark side's left-join (r11 advice)
    est_a AS (SELECT CAST((SELECT COUNT(*) FROM sk_a, th_a
                           WHERE h < th_a.theta) AS DOUBLE)
                     * {_THETA_SPACE} / CAST(th_a.theta AS DOUBLE) AS est
              FROM th_a),
    est_b AS (SELECT CAST((SELECT COUNT(*) FROM sk_b, th_b
                           WHERE h < th_b.theta) AS DOUBLE)
                     * {_THETA_SPACE} / CAST(th_b.theta AS DOUBLE) AS est
              FROM th_b),
    est_u AS (SELECT CAST((SELECT COUNT(DISTINCT h)
                           FROM (SELECT h FROM sk_a
                                 UNION SELECT h FROM sk_b) u, th_u
                           WHERE h < th_u.theta) AS DOUBLE)
                     * {_THETA_SPACE} / CAST(th_u.theta AS DOUBLE) AS est
              FROM th_u),
    est_i AS (SELECT CAST((SELECT COUNT(*)
                           FROM sk_a JOIN sk_b USING (h), th_u
                           WHERE h < th_u.theta) AS DOUBLE)
                     * {_THETA_SPACE} / CAST(th_u.theta AS DOUBLE) AS est
              FROM th_u),
    ex_a AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM a_keys),
    ex_b AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM b_keys),
    ex_i AS (SELECT CAST(COUNT(*) AS BIGINT) AS v
             FROM a_keys JOIN b_keys USING (k)),
    ex_u AS (SELECT ex_a.v + ex_b.v - ex_i.v AS v FROM ex_a, ex_b, ex_i)
    -- NULLIF: pin rel_err's 0/0 -> NULL contract (matching Spark
    -- try_divide) independent of the DuckDB version's division
    -- semantics (>=1.1 defaults to IEEE NaN for 0/0; r12 advice)
    SELECT 'distinct_a' AS measure, ROUND(est_a.est, 4) AS est,
           ex_a.v AS exact_v,
           ROUND(ABS(est_a.est - ex_a.v) / NULLIF(ex_a.v, 0), 4) AS rel_err
    FROM est_a, ex_a
    UNION ALL
    SELECT 'distinct_b', ROUND(est_b.est, 4), ex_b.v,
           ROUND(ABS(est_b.est - ex_b.v) / NULLIF(ex_b.v, 0), 4) FROM est_b, ex_b
    UNION ALL
    SELECT 'union', ROUND(est_u.est, 4), ex_u.v,
           ROUND(ABS(est_u.est - ex_u.v) / NULLIF(ex_u.v, 0), 4) FROM est_u, ex_u
    UNION ALL
    SELECT 'intersection', ROUND(est_i.est, 4), ex_i.v,
           ROUND(ABS(est_i.est - ex_i.v) / NULLIF(ex_i.v, 0), 4) FROM est_i, ex_i
"""


def _theta_sketch(df_h, k: int = THETA_K):
    """Bottom-k distinct-hash sketch state over an (h) relation —
    same TakeOrdered heap-merge shape as ``kq_sample`` (no global
    sort; the distinct is the only shuffle and carries hashes, not
    keys). Merge/union law asserted in tests/test_r11_ops.py."""
    return df_h.select("h").distinct().orderBy("h").limit(k)


def _theta_of(sk, k: int = THETA_K):
    """1-row inclusion threshold: k-th smallest hash, or the full
    hash space when the stream held fewer than k distinct keys (the
    sketch is then exact)."""
    return sk.agg(
        F.when(F.count("*") < k, F.lit(1 << 32))
        .otherwise(F.max("h"))
        .cast("long")
        .alias("theta")
    )


def _theta_est(theta_col: str):
    """count-below-threshold scaled back to the full hash space."""
    return (
        F.col("cnt").cast("double")
        * F.lit(_THETA_SPACE)
        / F.col(theta_col).cast("double")
    )


def theta_order_stream(o, year: int):
    """(keys, hashes) for one year's distinct-customer stream — the
    shared fixture of q_sketch_theta and its streaming-maintenance
    twin q_stream_theta (both must hash identically or
    intersection-on-sketches is invalid)."""
    keys = (
        o.filter(F.year("o_orderdate") == year)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    # Deliberately NOT theta_hash_hoisted (r20, measured): the hoisted
    # projection pair blocks the project-into-aggregate collapse here,
    # and because the readout references each sketch subtree ~5x the
    # un-collapsed distinct re-plans as 18 extra aggregate/exchange
    # pairs (plan ledger 32 -> 50 exchanges; warm noop 2.7 -> 4.4 s).
    # The hash only covers the distinct key relation, so the inline
    # md5's per-nibble cost is the cheaper side of the trade at this
    # site.
    return keys, keys.select(F.expr(_theta_hash_sql("k", "STRING")).alias("h"))


def theta_readout(sk_a, sk_b, a_keys, b_keys):
    """The 4-row measure contract (distinct_a/distinct_b/union/
    intersection with est, exact_v, rel_err) from two theta sketches
    plus the exact key relations for the in-band verification columns.
    Shared by q_sketch_theta (one-shot build) and q_stream_theta
    (incrementally maintained sketches) so the driver hash check of
    the streaming twin proves apply == rebuild on identical read-out
    code. Everything below is <= k-row or 1-row relations.

    r21 (guide §1.2/§5 — the VERDICT's readout-duplication item): the
    measure rows reference each sketch ~5x (its theta, its own est,
    the union est, the intersection est) and each exact key relation
    ~4x (ex_* standalone in row() AND inside ex_u's cross join), so
    the un-cut one-shot plan replayed the orders scan + distinct +
    hash + TakeOrdered once per reference (1,880 plan lines / 106
    Exchanges / 144 inline md5s). All four inputs are materialized
    here — the sketches are <= k rows, the key relations one distinct
    each — and every downstream reference reads checkpoint blocks.
    This is the hoist that DOESN'T re-plan the aggregates: the r20
    md5-hoist negative (theta_order_stream note above) came from
    inserting a projection UNDER the distinct; cutting at the readout
    boundary leaves every aggregate shape intact. The four
    materializations are independent jobs and overlap from a small
    thread pool (guide §2.6) so the cut costs ~one job latency, not
    four."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        sk_a, sk_b, a_keys, b_keys = pool.map(
            lambda df: df.localCheckpoint(eager=True),
            (sk_a, sk_b, a_keys, b_keys),
        )
    th_a, th_b = _theta_of(sk_a), _theta_of(sk_b)
    th_u = (
        th_a.crossJoin(th_b.withColumnRenamed("theta", "theta_b"))
        .select(F.least("theta", "theta_b").alias("theta"))
    )

    def below(sk, th):
        # Left-join the qualifying-hash count back onto the (always
        # 1-row) threshold relation: a regime with ZERO hashes below
        # theta (e.g. 'intersection' on disjoint streams) must still
        # emit its measure row as est=0, not vanish from the 4-row
        # output contract (r11 advice — the bare groupBy dropped it).
        cnt = (
            sk.crossJoin(F.broadcast(th))
            .filter(F.col("h") < F.col("theta"))
            .groupBy("theta")
            .agg(F.count("*").alias("cnt"))
        )
        return th.join(cnt, "theta", "left").select(
            "theta", F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt")
        )

    est_a = below(sk_a, th_a).select(_theta_est("theta").alias("est"))
    est_b = below(sk_b, th_b).select(_theta_est("theta").alias("est"))
    est_u = below(
        sk_a.unionByName(sk_b).distinct(), th_u
    ).select(_theta_est("theta").alias("est"))
    est_i = below(sk_a.join(sk_b, "h"), th_u).select(
        _theta_est("theta").alias("est")
    )

    ex_a = a_keys.agg(F.count("*").cast("long").alias("v"))
    ex_b = b_keys.agg(F.count("*").cast("long").alias("v"))
    ex_i = a_keys.join(b_keys, "k").agg(F.count("*").cast("long").alias("v"))
    ex_u = (
        ex_a.withColumnRenamed("v", "va")
        .crossJoin(ex_b.withColumnRenamed("v", "vb"))
        .crossJoin(ex_i.withColumnRenamed("v", "vi"))
        .select((F.col("va") + F.col("vb") - F.col("vi")).alias("v"))
    )

    def row(name, est, ex):
        # try_divide: the zero-count regime (now emitted instead of
        # dropped) has exact_v=0 — rel_err degrades to NULL exactly
        # like DuckDB's divide-by-zero instead of raising under ANSI.
        return est.crossJoin(F.broadcast(ex)).select(
            F.lit(name).alias("measure"),
            F.round("est", 4).alias("est"),
            F.col("v").alias("exact_v"),
            F.round(
                F.try_divide(F.abs(F.col("est") - F.col("v")), F.col("v")), 4
            ).alias("rel_err"),
        )

    return (
        row("distinct_a", est_a, ex_a)
        .unionByName(row("distinct_b", est_b, ex_b))
        .unionByName(row("union", est_u, ex_u))
        .unionByName(row("intersection", est_i, ex_i))
    )


@query("q_sketch_theta", oracle=THETA_SKETCH_SQL)
def q_sketch_theta(spark, sf_dir):
    """Theta/KMV set-operation sketch: distinct customers active in
    1995 vs 1996, their union, and their overlap — estimated from two
    k=256-row sketches instead of a cross-year distinct join, with
    the exact answers and relative errors in-band.

    Plan shape: each stream is distinct→TakeOrdered (bottom-k heap
    per task, k rows per partial — the HLL/quantile-sketch combine
    discipline); every downstream relation is ≤ k rows or 1 row, so
    the set algebra itself costs nothing. The same md5 hash sketches
    both streams, which is what makes intersection-on-sketches valid;
    thresholds degrade to the full hash space (estimates become
    exact) when a stream has fewer than k distinct keys — both
    regimes deterministic, both oracle-replayed."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    a_keys, a_h = theta_order_stream(o, 1995)
    b_keys, b_h = theta_order_stream(o, 1996)
    return theta_readout(_theta_sketch(a_h), _theta_sketch(b_h), a_keys, b_keys)


# --- per-group theta sketch -------------------------------------------
#
# The grouped form of q_sketch_theta — per-segment audience overlap
# ("how many BUILDING customers were active in both 1995 and 1996?"),
# the shape a 100 TB pipeline asks per tenant/region/cohort. Same
# physical discipline as q_sketch_quantile_grouped: per-group bottom-k
# by hash via ONE group-partitioned rank window (no per-group
# TakeOrdered), all downstream relations ≤ |groups|·k rows, the
# group-anchored left joins keeping zero-count regimes in the output
# (the r11 theta lesson, applied per group).

THETA_G_K = 64  # smaller k than the global sketch: per-segment streams
                # are ~|customers|/5, so k=64 keeps a real sketch regime
                # at sf>=0.01 instead of degenerating to exact everywhere


def _theta_grouped_oracle() -> str:
    def stream(year: int) -> str:
        return f"""
        SELECT c.c_mktsegment AS g, o.o_custkey AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE YEAR(o.o_orderdate) = {year}
        GROUP BY 1, 2"""

    def sketch(src: str) -> str:
        return f"""
        SELECT g, h FROM (
            SELECT g, {_theta_hash_sql("k")} AS h,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY {_theta_hash_sql("k")}) AS rn
            FROM {src}
        ) WHERE rn <= {THETA_G_K}"""

    def theta(sk: str) -> str:
        return f"""
        SELECT g, CASE WHEN COUNT(*) < {THETA_G_K}
                       THEN CAST({1 << 32} AS BIGINT)
                       ELSE CAST(MAX(h) AS BIGINT) END AS theta
        FROM {sk} GROUP BY g"""

    def below(sk: str, th: str) -> str:
        # theta-anchored left join: zero qualifying hashes must emit 0
        return f"""
        SELECT t.g, t.theta, COALESCE(c.cnt, 0) AS cnt
        FROM {th} t LEFT JOIN (
            SELECT s.g, COUNT(*) AS cnt
            FROM {sk} s JOIN {th} t2 ON t2.g = s.g
            WHERE s.h < t2.theta GROUP BY s.g
        ) c ON c.g = t.g"""

    est = f"CAST(cnt AS DOUBLE) * {_THETA_SPACE} / CAST(theta AS DOUBLE)"
    return f"""
    WITH a_keys AS ({stream(1995)}),
    b_keys AS ({stream(1996)}),
    sk_a AS ({sketch('a_keys')}),
    sk_b AS ({sketch('b_keys')}),
    th_a AS ({theta('sk_a')}),
    th_b AS ({theta('sk_b')}),
    th_u AS (
        SELECT th_a.g, LEAST(th_a.theta, th_b.theta) AS theta
        FROM th_a JOIN th_b ON th_a.g = th_b.g
    ),
    sk_u AS (SELECT g, h FROM sk_a UNION SELECT g, h FROM sk_b),
    sk_i AS (SELECT g, h FROM sk_a INTERSECT SELECT g, h FROM sk_b),
    est_a AS (SELECT g, {est} AS est FROM ({below('sk_a', 'th_a')})),
    est_b AS (SELECT g, {est} AS est FROM ({below('sk_b', 'th_b')})),
    est_u AS (SELECT g, {est} AS est FROM ({below('sk_u', 'th_u')})),
    est_i AS (SELECT g, {est} AS est FROM ({below('sk_i', 'th_u')})),
    ex_a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS v FROM a_keys GROUP BY g),
    ex_b AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS v FROM b_keys GROUP BY g),
    ex_i AS (
        SELECT a.g, CAST(COALESCE(COUNT(b.k), 0) AS BIGINT) AS v
        FROM a_keys a LEFT JOIN b_keys b ON a.g = b.g AND a.k = b.k
        GROUP BY a.g
    ),
    ex_u AS (
        SELECT ex_a.g, ex_a.v + ex_b.v - ex_i.v AS v
        FROM ex_a JOIN ex_b ON ex_a.g = ex_b.g JOIN ex_i ON ex_i.g = ex_a.g
    )
    SELECT m.g, m.measure, ROUND(m.est, 4) AS est, m.v AS exact_v,
           ROUND(ABS(m.est - m.v) / NULLIF(m.v, 0), 4) AS rel_err
    FROM (
        SELECT est_a.g, 'distinct_a' AS measure, est_a.est, ex_a.v
        FROM est_a JOIN ex_a ON est_a.g = ex_a.g
        UNION ALL
        SELECT est_b.g, 'distinct_b', est_b.est, ex_b.v
        FROM est_b JOIN ex_b ON est_b.g = ex_b.g
        UNION ALL
        SELECT est_u.g, 'union', est_u.est, ex_u.v
        FROM est_u JOIN ex_u ON est_u.g = ex_u.g
        UNION ALL
        SELECT est_i.g, 'intersection', est_i.est, ex_i.v
        FROM est_i JOIN ex_i ON est_i.g = ex_i.g
    ) m
    """


@query("q_sketch_theta_grouped", oracle=_theta_grouped_oracle())
def q_sketch_theta_grouped(spark, sf_dir):
    """Per-group theta/KMV set-operation sketch: for every market
    segment, the distinct customers active in 1995, in 1996, their
    union, and their overlap — estimated from per-group k=64-row
    bottom-k hash sketches, with exacts and rel_err in-band (4 rows
    per segment). The same-hash-both-streams property holds PER GROUP,
    so intersection-on-sketches stays valid; groups with fewer than k
    distinct keys degrade to exact (theta = full hash space), and a
    zero-overlap group still emits its intersection row as est=0 (the
    r11 contract, anchored per group).

    Plan shape: each stream is one distinct + ONE group-partitioned
    rank window (the sample) — a single Exchange on the group key, no
    per-group TakeOrdered; every downstream relation (thetas, counts,
    set ops, exacts) is ≤ |groups|·k rows or |groups| rows, joined on
    the group key. Per-group parallel at any group count — the grouped
    complement of q_sketch_theta exactly as q_sketch_quantile_grouped
    is of q_sketch_quantile."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("g"),
        F.col("o_custkey").alias("k"),
        F.year("o_orderdate").alias("yr"),
    )

    def stream(year):
        return base.filter(F.col("yr") == year).select("g", "k").distinct()

    def sketch(keys):
        h = theta_hash_hoisted(keys, "g")
        w = W.partitionBy("g").orderBy("h")
        return (
            h.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= THETA_G_K)
            .select("g", "h")
        )

    def theta_of(sk):
        return sk.groupBy("g").agg(
            F.when(F.count("*") < THETA_G_K, F.lit(1 << 32))
            .otherwise(F.max("h"))
            .cast("long")
            .alias("theta")
        )

    def below(sk, th):
        cnt = (
            sk.join(F.broadcast(th), "g")
            .filter(F.col("h") < F.col("theta"))
            .groupBy("g")
            .agg(F.count("*").alias("cnt"))
        )
        return th.join(cnt, "g", "left").select(
            "g", "theta", F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt")
        )

    a_keys, b_keys = stream(1995), stream(1996)
    sk_a, sk_b = sketch(a_keys), sketch(b_keys)
    th_a, th_b = theta_of(sk_a), theta_of(sk_b)
    th_u = th_a.join(
        th_b.withColumnRenamed("theta", "theta_b"), "g"
    ).select("g", F.least("theta", "theta_b").alias("theta"))
    sk_u = sk_a.unionByName(sk_b).distinct()
    sk_i = sk_a.intersect(sk_b)

    def est_of(sk, th):
        return below(sk, th).select(
            "g", (_theta_est("theta")).alias("est")
        )

    ex_a = a_keys.groupBy("g").agg(F.count("*").cast("long").alias("v"))
    ex_b = b_keys.groupBy("g").agg(F.count("*").cast("long").alias("v"))
    # group-anchored left join so a zero-overlap group keeps its row
    ex_i = (
        a_keys.alias("a")
        .join(
            b_keys.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.k") == F.col("b.k")),
            "left",
        )
        .groupBy(F.col("a.g").alias("g"))
        .agg(F.count(F.col("b.k")).cast("long").alias("v"))
    )
    ex_u = (
        ex_a.withColumnRenamed("v", "va")
        .join(ex_b.withColumnRenamed("v", "vb"), "g")
        .join(ex_i.withColumnRenamed("v", "vi"), "g")
        .select("g", (F.col("va") + F.col("vb") - F.col("vi")).alias("v"))
    )

    def rows(name, est, ex):
        return est.join(ex, "g").select(
            "g",
            F.lit(name).alias("measure"),
            F.round("est", 4).alias("est"),
            F.col("v").alias("exact_v"),
            F.round(
                F.try_divide(F.abs(F.col("est") - F.col("v")), F.col("v")), 4
            ).alias("rel_err"),
        )

    return (
        rows("distinct_a", est_of(sk_a, th_a), ex_a)
        .unionByName(rows("distinct_b", est_of(sk_b, th_b), ex_b))
        .unionByName(rows("union", est_of(sk_u, th_u), ex_u))
        .unionByName(rows("intersection", est_of(sk_i, th_u), ex_i))
    )


# --- per-group quantile sketch ----------------------------------------
#
# The grouped form of q_sketch_quantile — per-tenant / per-partition
# percentiles, the shape the 100 TB pipeline actually asks for ("p99
# by customer segment"). Different physical skeleton on purpose: the
# global sketch is a TakeOrdered heap-merge; the grouped one is ONE
# Exchange on the group key and then nothing but windows sharing that
# partitioning — per-group bottom-k by hash (the sample), per-group
# value rank over the sample (the read-out), and per-group value rank
# over the stream (the in-band exact). No driver action, no bounded
# collect, no global anything: every stage is per-group parallel, so
# the plan is unchanged at any group count.

KQG_K = 256
KQG_TARGETS = (0.5, 0.9)

KQG_SKETCH_SQL = f"""
    WITH stream AS (
        SELECT o_orderpriority AS grp,
               CAST(o_totalprice AS DOUBLE) AS v,
               md5('kqg|' || CAST(o_orderkey AS VARCHAR)) AS h
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    samp AS (
        SELECT grp, v, h
        FROM (SELECT grp, v, h,
                     row_number() OVER (PARTITION BY grp ORDER BY h) AS hr
              FROM stream)
        WHERE hr <= {KQG_K}
    ),
    sord AS (
        SELECT grp, v,
               row_number() OVER (PARTITION BY grp ORDER BY v, h) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS kk
        FROM samp
    ),
    eord AS (
        SELECT grp, v,
               row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM stream
    ),
    spine AS (
        SELECT CAST(q AS DOUBLE) AS q
        FROM (VALUES {", ".join(f"({q})" for q in KQG_TARGETS)}) t(q)
    ),
    est AS (
        SELECT s.q, o.grp, o.v AS est, o.kk
        FROM spine s JOIN sord o
          ON o.rn = CAST(CEIL(s.q * o.kk) AS BIGINT)
    ),
    ex AS (
        SELECT s.q, e.grp, e.v AS exact_v, e.n
        FROM spine s JOIN eord e
          ON e.rn = CAST(CEIL(s.q * e.n) AS BIGINT)
    )
    SELECT est.grp, est.q, est.est, ex.exact_v,
           ROUND(ABS(est.est - ex.exact_v) / ex.exact_v, 4) AS rel_err,
           CAST(est.kk AS BIGINT) AS k_sample,
           CAST(ex.n AS BIGINT) AS n_group
    FROM est JOIN ex ON est.grp = ex.grp AND est.q = ex.q
"""


@query("q_sketch_quantile_grouped", oracle=KQG_SKETCH_SQL)
def q_sketch_quantile_grouped(spark, sf_dir):
    """Per-group mergeable quantile sketch: p50/p90 of order value per
    order priority, from a k=256-per-group bottom-k hash sample, with
    the exact per-group order statistics and relative errors in-band
    (section comment above for why the physical shape differs from the
    global sketch).

    ONE scan, ONE Exchange on the group key (asserted against the
    plan in tests/test_r11_ops.py): the hash rank (sample membership),
    the sample's value rank, the stream's value rank, and both group
    counts are all windows over the same partitioning — the sample
    rank is a conditional running count (sampled rows preceding me in
    (v, h) order), which is exactly row_number over the sample without
    ever splitting the flow. The read-out is ONE join against the
    2-row broadcast quantile spine (an OR of the sample-rank and
    exact-rank picks) folded by a |groups|·|targets|-row pivot
    aggregate, so the stream is scanned, shuffled, and windowed
    exactly once."""
    from pyspark.sql import Window

    # quantiles of the OBSERVED distribution: NULL values excluded
    # on both sides (r19 'nulls' fuzz tier — NULL rank placement
    # differs per engine and poisons every downstream rank)
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_totalprice").cast("double").alias("v"),
            F.md5(
                F.concat(F.lit("kqg|"), F.col("o_orderkey").cast("string"))
            ).alias("h"),
        )
    )
    w_h = Window.partitionBy("grp").orderBy("h")
    w_g = Window.partitionBy("grp")
    w_run = (
        Window.partitionBy("grp")
        .orderBy("v", "h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ev = Window.partitionBy("grp").orderBy("v", "h")
    sampled = F.when(F.col("hr") <= KQG_K, 1).otherwise(0)
    ranked = (
        o.withColumn("hr", F.row_number().over(w_h))
        .withColumn("rn_s", F.sum(sampled).over(w_run))
        .withColumn("rn_e", F.row_number().over(w_ev))
        .withColumn("n", F.count("*").over(w_g))
        .withColumn("kk", F.sum(sampled).over(w_g))
    )
    spine = spark.createDataFrame(
        [(float(q),) for q in KQG_TARGETS], "q double"
    )
    is_est = (F.col("hr") <= KQG_K) & (
        F.col("rn_s") == F.ceil(F.col("q") * F.col("kk"))
    )
    is_ex = F.col("rn_e") == F.ceil(F.col("q") * F.col("n"))
    picks = ranked.join(F.broadcast(spine), is_est | is_ex)
    return (
        picks.groupBy("grp", "q")
        .agg(
            F.max(F.when(is_est, F.col("v"))).alias("est"),
            F.max(F.when(is_ex, F.col("v"))).alias("exact_v"),
            F.max("kk").cast("long").alias("k_sample"),
            F.max("n").cast("long").alias("n_group"),
        )
        .select(
            "grp",
            "q",
            "est",
            "exact_v",
            F.round(
                F.abs(F.col("est") - F.col("exact_v")) / F.col("exact_v"), 4
            ).alias("rel_err"),
            "k_sample",
            "n_group",
        )
    )


# --- theta rollup (r14): completes the KMV family's rollup cell --------


def _theta_rollup_oracle() -> str:
    h = _theta_hash_sql("k")
    return f"""
        WITH stream AS (
            SELECT CAST(YEAR(o_orderdate) AS VARCHAR) AS g, o_custkey AS k
            FROM orders
        ),
        hashes AS (SELECT DISTINCT g, {h} AS h FROM stream),
        leaf AS (
            SELECT g, h FROM (
                SELECT g, h,
                       row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                FROM hashes
            ) WHERE rn <= {THETA_K}
        ),
        total AS (
            -- ONE-SHOT build over the whole stream: the Spark side
            -- merges the leaves instead, so the hash check proves the
            -- KMV merge law at the rollup grain.
            SELECT 'total' AS g, h FROM (
                SELECT DISTINCT {h} AS h FROM stream ORDER BY h LIMIT {THETA_K}
            )
        ),
        sk AS (SELECT g, h FROM leaf UNION ALL SELECT g, h FROM total),
        th AS (
            SELECT g, CASE WHEN COUNT(*) < {THETA_K}
                           THEN CAST({1 << 32} AS BIGINT)
                           ELSE CAST(MAX(h) AS BIGINT) END AS theta
            FROM sk GROUP BY g
        ),
        cnt AS (
            SELECT sk.g, COUNT(*) AS c
            FROM sk JOIN th ON th.g = sk.g AND sk.h < th.theta
            GROUP BY sk.g
        ),
        est AS (
            SELECT th.g,
                   CAST(COALESCE(cnt.c, 0) AS DOUBLE) * {_THETA_SPACE}
                       / CAST(th.theta AS DOUBLE) AS est
            FROM th LEFT JOIN cnt ON cnt.g = th.g
        ),
        exact AS (
            SELECT g, COUNT(DISTINCT k) AS v FROM stream GROUP BY g
            UNION ALL
            SELECT 'total' AS g, COUNT(DISTINCT k) AS v FROM stream
        )
        SELECT e.g, ROUND(e.est, 4) AS est, CAST(x.v AS BIGINT) AS exact_v,
               ROUND(ABS(e.est - x.v) / NULLIF(x.v, 0), 4) AS rel_err
        FROM est e JOIN exact x ON x.g = e.g
    """


@query("q_sketch_theta_rollup", oracle=_theta_rollup_oracle())
def q_sketch_theta_rollup(spark, sf_dir):
    """Theta/KMV rollup — the distinct-count member of the sketch-as-
    materialized-aggregate column: one bottom-k distinct-hash sketch
    PER ORDER YEAR from a single stream pass (one group-partitioned
    rank window — single Exchange, no per-group TakeOrdered), plus the
    'total' sketch obtained by MERGING the leaves (bottom-k distinct
    of their union — the KMV merge law), never re-hashing the stream.
    The ORACLE builds the total sketch ONE-SHOT over the whole stream,
    so the driver hash check proves merge==rebuild at the rollup
    grain: every one of the k globally-smallest distinct hashes lives
    in its own year's bottom-k, so bottom_k(∪ leaves) == bottom_k(all)
    exactly (the batch complement of q_stream_theta's law over
    micro-batches). Per-grain distinct estimates with exacts and
    rel_err in-band; groups under k distinct keys degrade to exact
    (theta = full hash space). All downstream relations ≤ |years|·k
    rows."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("string").alias("g"),
        F.col("o_custkey").alias("k"),
    )
    hashes = theta_hash_hoisted(o, "g").distinct()
    w = W.partitionBy("g").orderBy("h")
    leaf = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= THETA_K)
        .select("g", "h")
    )
    total = _theta_sketch(leaf.select("h")).select(
        F.lit("total").alias("g"), "h"
    )
    sk = leaf.unionByName(total)
    th = sk.groupBy("g").agg(
        F.when(F.count("*") < THETA_K, F.lit(1 << 32))
        .otherwise(F.max("h"))
        .cast("long")
        .alias("theta")
    )
    cnt = (
        sk.join(F.broadcast(th), "g")
        .filter(F.col("h") < F.col("theta"))
        .groupBy("g")
        .agg(F.count("*").alias("c"))
    )
    est = th.join(cnt, "g", "left").select(
        "g",
        (
            F.coalesce("c", F.lit(0)).cast("double")
            * F.lit(_THETA_SPACE)
            / F.col("theta").cast("double")
        ).alias("est_raw"),
    )
    exact = (
        o.groupBy("g").agg(F.countDistinct("k").alias("v"))
        .unionByName(
            o.agg(F.countDistinct("k").alias("v")).select(
                F.lit("total").alias("g"), "v"
            )
        )
    )
    return est.join(exact, "g").select(
        "g",
        F.round("est_raw", 4).alias("est"),
        F.col("v").cast("long").alias("exact_v"),
        F.round(
            F.try_divide(F.abs(F.col("est_raw") - F.col("v")), F.col("v")), 4
        ).alias("rel_err"),
    )


# --- quantile rollup (r14): completes the quantile family's rollup cell


KQR_K = 256
KQR_TARGETS = (0.5, 0.9)
_KQR_HASH = "md5('kqr|' || CAST(o_orderkey AS {vc}))"


def _kq_rollup_oracle() -> str:
    spine = ", ".join(f"({q})" for q in KQR_TARGETS)
    return f"""
        WITH stream AS (
            SELECT CAST(YEAR(o_orderdate) AS VARCHAR) AS g,
                   CAST(o_totalprice AS DOUBLE) AS v,
                   {_KQR_HASH.format(vc="VARCHAR")} AS h
            FROM orders WHERE o_totalprice IS NOT NULL
        ),
        leaf AS (
            SELECT g, v, h FROM (
                SELECT g, v, h,
                       row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                FROM stream
            ) WHERE rn <= {KQR_K}
        ),
        total AS (
            -- ONE-SHOT sample over the whole stream: the Spark side
            -- merges the leaves instead (bottom-k by hash of their
            -- union), so the hash check proves the sample-merge law.
            SELECT 'total' AS g, v, h FROM (
                SELECT v, h FROM stream ORDER BY h LIMIT {KQR_K}
            )
        ),
        sk AS (SELECT g, v, h FROM leaf UNION ALL SELECT g, v, h FROM total),
        sord AS (
            SELECT g, v,
                   row_number() OVER (PARTITION BY g ORDER BY v, h) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS kk
            FROM sk
        ),
        spine AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {spine}) t(q)),
        est AS (
            SELECT s.g, t.q, s.v AS est, s.kk
            FROM sord s JOIN spine t
              ON s.rn = CAST(CEIL(t.q * s.kk) AS BIGINT)
        ),
        eord AS (
            SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM stream
            UNION ALL
            SELECT 'total' AS g, v, row_number() OVER (ORDER BY v) AS rn,
                   COUNT(*) OVER () AS n
            FROM stream
        ),
        ex AS (
            SELECT e.g, t.q, e.v AS exact_v, e.n
            FROM eord e JOIN spine t
              ON e.rn = CAST(CEIL(t.q * e.n) AS BIGINT)
        )
        SELECT est.g, est.q, est.est, ex.exact_v,
               ROUND(ABS(est.est - ex.exact_v) / ex.exact_v, 4) AS rel_err,
               CAST(est.kk AS BIGINT) AS k_sample,
               CAST(ex.n AS BIGINT) AS n_group
        FROM est JOIN ex ON ex.g = est.g AND ex.q = est.q
    """


@query("q_sketch_quantile_rollup", oracle=_kq_rollup_oracle())
def q_sketch_quantile_rollup(spark, sf_dir):
    """Quantile rollup — the order-statistics member of the sketch-as-
    materialized-aggregate column: one k=256 bottom-k-by-hash sample
    PER ORDER YEAR from a single group-partitioned rank window (one
    Exchange), plus the 'total' sample obtained by MERGING the leaves
    (bottom-k by hash of their union — kq_sample's merge law), never
    re-sampling the stream. The ORACLE draws the total sample ONE-SHOT
    over the whole stream, so the driver hash check proves
    merge==rebuild at the rollup grain: each of the k globally-
    smallest hashes is in its own year's bottom-k. Per-grain p50/p90
    with exact order statistics and rel_err in-band — per-year exacts
    from the same partitioned rank pass (partition-parallel), the
    total exact from the driver-bounded two-phase bucket method
    (_kq_exact_ranks: 1 stats row + 64 bucket counts + a pruned
    phase-2 scan — never a global sort). Estimate read-out windows
    range over the bounded ≤ (|years|+1)·k sample relation only."""
    from pyspark.sql import Window as W

    # observed values only — see q_sketch_quantile_grouped (r19)
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.year("o_orderdate").cast("string").alias("g"),
            F.col("o_totalprice").cast("double").alias("v"),
            F.md5(
                F.concat(F.lit("kqr|"), F.col("o_orderkey").cast("string"))
            ).alias("h"),
        )
    )
    w_h = W.partitionBy("g").orderBy("h")
    leaf = (
        o.withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") <= KQR_K)
        .select("g", "v", "h")
    )
    total = kq_sample(leaf.select("v", "h"), k=KQR_K).select(
        F.lit("total").alias("g"), "v", "h"
    )
    sk = leaf.unionByName(total)
    sord = sk.select(
        "g", "v",
        F.row_number().over(W.partitionBy("g").orderBy("v", "h")).alias("rn"),
        F.count("*").over(W.partitionBy("g")).alias("kk"),
    )
    spine = spark.createDataFrame(
        [(float(q),) for q in KQR_TARGETS], "q double"
    )
    est = sord.join(
        F.broadcast(spine), F.col("rn") == F.ceil(F.col("q") * F.col("kk"))
    ).select("g", "q", F.col("v").alias("est"), "kk")

    eord = o.select(
        "g", "v",
        F.row_number().over(W.partitionBy("g").orderBy("v")).alias("rn"),
        F.count("*").over(W.partitionBy("g")).alias("n"),
    )
    ex_years = eord.join(
        F.broadcast(spine), F.col("rn") == F.ceil(F.col("q") * F.col("n"))
    ).select("g", "q", F.col("v").alias("exact_v"), "n")
    # r21: n_total rides _kq_exact_ranks' stats pass (one corpus
    # aggregate fewer) and the per-quantile probes overlap.
    exact_total, n_total = _kq_exact_ranks(spark, o.select("v"), KQR_TARGETS)
    ex_total = spark.createDataFrame(
        [("total", float(q), float(exact_total[q]), n_total) for q in KQR_TARGETS],
        "g string, q double, exact_v double, n long",
    )
    ex = ex_years.unionByName(ex_total)
    return est.join(ex, ["g", "q"]).select(
        "g", "q", "est", "exact_v",
        F.round(
            F.abs(F.col("est") - F.col("exact_v")) / F.col("exact_v"), 4
        ).alias("rel_err"),
        F.col("kk").cast("long").alias("k_sample"),
        F.col("n").cast("long").alias("n_group"),
    )
