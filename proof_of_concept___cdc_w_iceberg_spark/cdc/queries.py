"""CDC composite queries (SURVEY.md §2.10 + envelope/upsert from §2.1).

These reproduce the reference's raison d'être: Debezium envelope in,
upserted mirror table out (`connect-iceberg-sink.json:10-16,30-33`),
with the mirror verified assertively (vs the manual re-query of
`test_cdc.py:75-92`).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators._util import overlap
from ..registry import query
from ..sources.cdc_fixtures import CHANGELOG_SQL, MIRROR_SQL, changelog, mirror_cte
from ..sources.tables import load
from .apply import apply_changes, compact_latest, evolve_schema, merge_upsert, mirror_diff
from .envelope import decode_envelope, encode_envelope


@query("q_source_changelog", oracle=CHANGELOG_SQL)
def q_source_changelog(spark, sf_dir):
    """Change-event stream scan, batch form (topic per table,
    `connect-sqlserver-source.json:10-12`). The streaming twin reads
    the same rows through a file-stream source (streaming/pipeline.py)."""
    return changelog(spark, sf_dir)


@query(
    "q_envelope_decode",
    oracle=f"""
        WITH changes AS ({CHANGELOG_SQL})
        SELECT k, name, op, ts_ms, off,
               'cdc.commerce_account' AS _cdc_target
        FROM changes
    """,
)
def q_envelope_decode(spark, sf_dir):
    """Encode the changelog into Debezium JSON envelopes, then decode
    with ``from_json`` and flatten (`connect-standalone.properties:2-5`
    + DebeziumTransform `connect-iceberg-sink.json:10-12`). The oracle
    checks the round-trip is lossless."""
    enveloped = encode_envelope(changelog(spark, sf_dir))
    decoded = decode_envelope(enveloped)
    return decoded.select(
        F.coalesce(F.col("after.k"), F.col("before.k")).alias("k"),
        F.col("after.name").alias("name"),
        "op",
        "ts_ms",
        "off",
        "_cdc_target",
    )


@query(
    "q_sink_upsert",
    oracle="""
        WITH src AS (
            SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
                   c_acctbal + 100.0 AS c_acctbal
            FROM customer WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey + 10000000, 'new_' || c_name, c_acctbal
            FROM customer WHERE c_custkey % 13 = 0
        )
        SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
               COALESCE(s.c_name, t.c_name) AS c_name,
               COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal
        FROM customer t FULL JOIN src s ON t.c_custkey = s.c_custkey
    """,
)
def q_sink_upsert(spark, sf_dir):
    """Upsert by id-columns (`connect-iceberg-sink.json:30-33`) via the
    MERGE fallback (full-outer-join rewrite, cdc/apply.py). With an
    Iceberg catalog this is a real ``MERGE INTO``."""
    target = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_name", "c_acctbal"
    )
    c = load(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
    )
    inserts = c.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).cast("long").alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        "c_acctbal",
    )
    return merge_upsert(target, updates.unionByName(inserts), ["c_custkey"])


@query("q_cdc_apply", oracle=MIRROR_SQL)
def q_cdc_apply(spark, sf_dir):
    """Full CDC apply — the flagship: changelog → latest-per-key
    compaction → upsert/delete merge into a parquet mirror, read back.
    Writes through a real parquet sink round-trip, as the reference
    writes Iceberg data files per commit."""
    ch = changelog(spark, sf_dir)
    snapshot = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    stream = ch.filter(F.col("op") != "r")
    path = tempfile.mkdtemp(prefix="cdc_mirror_")
    snapshot.write.mode("overwrite").parquet(path)
    mirror = apply_changes(spark.read.parquet(path), stream, keys=["k"])
    out = tempfile.mkdtemp(prefix="cdc_mirror_out_")
    mirror.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


APPLY_SCALE_CHANGES_SQL = """
    SELECT l_orderkey, l_linenumber,
           l_quantity + 5.0 AS l_quantity, l_extendedprice,
           'u' AS op, CAST(2000 AS BIGINT) AS ts_ms,
           l_orderkey * 10 + l_linenumber AS off
    FROM lineitem WHERE l_orderkey % 10 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, NULL, NULL,
           'd', 3000, 1000000000 + l_orderkey * 10 + l_linenumber
    FROM lineitem WHERE l_orderkey % 15 = 0
    UNION ALL
    SELECT l_orderkey + 100000000, l_linenumber, l_quantity, l_extendedprice,
           'c', 2500, 2000000000 + l_orderkey * 10 + l_linenumber
    FROM lineitem WHERE l_orderkey % 12 = 0
"""


APPLY_SCALE_MIRROR_SQL = f"""
        WITH mirror AS (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
        ),
        changes AS ({APPLY_SCALE_CHANGES_SQL}),
        latest AS (
            SELECT *, row_number() OVER (
                PARTITION BY l_orderkey, l_linenumber
                ORDER BY ts_ms DESC, off DESC) AS rn
            FROM changes
        ),
        fc AS (SELECT * FROM latest WHERE rn = 1)
        SELECT m.l_orderkey, m.l_linenumber, m.l_quantity, m.l_extendedprice
        FROM mirror m ANTI JOIN fc USING (l_orderkey, l_linenumber)
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM fc WHERE op <> 'd'
"""


def _scale_mirror_and_changes(spark, sf_dir):
    """The BASELINE.md apply-gate fixture: full lineitem as the mirror,
    ~120 k mixed c/u/d events on (l_orderkey, l_linenumber)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )

    def ev(pred_mod, op, ts_ms, off_base, key_shift=0, qty=None):
        df = li.filter(F.col("l_orderkey") % pred_mod == 0)
        return df.select(
            (F.col("l_orderkey") + F.lit(key_shift)).cast("long").alias("l_orderkey"),
            "l_linenumber",
            (qty if qty is not None else F.col("l_quantity")).cast("double").alias("l_quantity"),
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
            F.lit(op).alias("op"),
            F.lit(ts_ms).cast("long").alias("ts_ms"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber") + F.lit(off_base))
            .cast("long").alias("off"),
        )

    changes = (
        ev(10, "u", 2000, 0, qty=F.col("l_quantity") + F.lit(5.0))
        .unionByName(
            ev(15, "d", 3000, 1_000_000_000).withColumn("l_quantity", F.lit(None).cast("double"))
            .withColumn("l_extendedprice", F.lit(None).cast("double"))
        )
        .unionByName(ev(12, "c", 2500, 2_000_000_000, key_shift=100_000_000))
    )
    return li, changes


@query("q_cdc_apply_scale", oracle=APPLY_SCALE_MIRROR_SQL)
def q_cdc_apply_scale(spark, sf_dir):
    """CDC apply at the BASELINE.md gate shape: ~120 k change events
    (updates on %10 orderkeys, deletes on %15 — overlapping keys
    exercise latest-wins compaction — inserts of new keys on %12)
    merged into the full lineitem mirror (~600 k rows at sf0.1) on the
    composite key (l_orderkey, l_linenumber), written through a real
    parquet sink. One shuffle to compact, one to merge; the change
    side is AQE-broadcastable relative to a big mirror."""
    li, changes = _scale_mirror_and_changes(spark, sf_dir)
    mirror = apply_changes(li, changes, keys=["l_orderkey", "l_linenumber"])
    out = tempfile.mkdtemp(prefix="cdc_scale_mirror_")
    mirror.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query("q_cdc_apply_bucketed", oracle=APPLY_SCALE_MIRROR_SQL)
def q_cdc_apply_bucketed(spark, sf_dir):
    """The SAME apply-gate semantics through the partition-scoped
    merge (cdc/bucketed.py): mirror laid out as a key-hash-bucketed
    parquet table. The batch (~20 % of the mirror's rows) is far past
    the merge-on-read fold threshold, and its prepared row counts say
    so before any write, so the commit is the FOLD: a copy-on-write
    merge rewriting only touched bucket partitions, swapped in by
    directory rename, with no delta left pending — the no-Iceberg
    analogue of the sink's equality-delete snapshot commit
    (`connect-iceberg-sink.json:30-33`) after its compaction.
    Hash-checked against the identical oracle as q_cdc_apply_scale, so
    the driver verifies the partition-scoped path is semantically
    indistinguishable from the full rewrite."""
    from .bucketed import BucketedMirror

    li, changes = _scale_mirror_and_changes(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_bucketed_"), "mirror")
    m = BucketedMirror(spark, path, keys=["l_orderkey", "l_linenumber"],
                       n_buckets=16)
    # The batch compaction reads only the change relation, so it
    # overlaps the init write.
    _, batch = overlap(spark, lambda: m.init(li), lambda: m.prepare(changes))
    m.apply(batch)
    return m.read()


APPLY_PART_MIRROR_SQL = """
        WITH mirror AS (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                   CAST(year(l_shipdate) AS INT) AS part_year
            FROM lineitem
        ),
        changes AS (
            SELECT l_orderkey, l_linenumber,
                   l_quantity + 5.0 AS l_quantity, l_extendedprice,
                   CAST(year(l_shipdate) AS INT) AS part_year,
                   'u' AS op, CAST(2000 AS BIGINT) AS ts_ms,
                   l_orderkey * 10 + l_linenumber AS off
            FROM lineitem WHERE l_orderkey % 10 = 0
            UNION ALL
            SELECT l_orderkey, l_linenumber, NULL, NULL,
                   CAST(year(l_shipdate) AS INT),
                   'd', 3000, 1000000000 + l_orderkey * 10 + l_linenumber
            FROM lineitem WHERE l_orderkey % 15 = 0
            UNION ALL
            SELECT l_orderkey + 100000000, l_linenumber, l_quantity,
                   l_extendedprice, CAST(year(l_shipdate) AS INT),
                   'c', 2500, 2000000000 + l_orderkey * 10 + l_linenumber
            FROM lineitem WHERE l_orderkey % 12 = 0
        ),
        latest AS (
            SELECT *, row_number() OVER (
                PARTITION BY l_orderkey, l_linenumber
                ORDER BY ts_ms DESC, off DESC) AS rn
            FROM changes
        ),
        fc AS (SELECT * FROM latest WHERE rn = 1)
        SELECT m.l_orderkey, m.l_linenumber, m.l_quantity,
               m.l_extendedprice, m.part_year
        FROM mirror m ANTI JOIN fc USING (l_orderkey, l_linenumber)
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, part_year
        FROM fc WHERE op <> 'd'
"""


@query("q_cdc_apply_partitioned", oracle=APPLY_PART_MIRROR_SQL)
def q_cdc_apply_partitioned(spark, sf_dir):
    """The apply-gate semantics through the TWO-LEVEL (date × bucket)
    mirror (cdc/bucketed.py TwoLevelMirror): ship-year outer
    partition, key-hash bucket inner. The year is placement — carried
    by every change event (delete events take it from the CDC
    before-image, `connect-iceberg-sink.json:30-33` equality deletes),
    so apply scans and rewrites ONLY (batch years) × (touched
    buckets). At 100 TB this is the layout that adds retention drops
    and time-pruned reads on top of q_cdc_apply_bucketed's
    partition-scoped merge; hash-checked against the same-latest-wins
    oracle extended with the year column."""
    from .bucketed import TwoLevelMirror

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        F.year("l_shipdate").cast("int").alias("part_year"),
    )

    def ev(pred_mod, op, ts_ms, off_base, key_shift=0, qty=None, null_vals=False):
        df = load(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") % pred_mod == 0)
        return df.select(
            (F.col("l_orderkey") + F.lit(key_shift)).cast("long").alias("l_orderkey"),
            "l_linenumber",
            (F.lit(None) if null_vals else
             (qty if qty is not None else F.col("l_quantity")))
            .cast("double").alias("l_quantity"),
            (F.lit(None) if null_vals else F.col("l_extendedprice"))
            .cast("double").alias("l_extendedprice"),
            F.year("l_shipdate").cast("int").alias("part_year"),
            F.lit(op).alias("op"),
            F.lit(ts_ms).cast("long").alias("ts_ms"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber") + F.lit(off_base))
            .cast("long").alias("off"),
        )

    changes = (
        ev(10, "u", 2000, 0, qty=F.col("l_quantity") + F.lit(5.0))
        .unionByName(ev(15, "d", 3000, 1_000_000_000, null_vals=True))
        .unionByName(ev(12, "c", 2500, 2_000_000_000, key_shift=100_000_000))
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_twolevel_"), "mirror")
    m = TwoLevelMirror(spark, path, keys=["l_orderkey", "l_linenumber"],
                       date_col="part_year", n_buckets=16)
    _, batch = overlap(spark, lambda: m.init(li), lambda: m.prepare(changes))
    m.apply(batch)
    return m.read().select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        F.col("part_year").cast("int").alias("part_year"),
    )


@query("q_cdc_snapshot_then_stream", oracle=MIRROR_SQL)
def q_cdc_snapshot_then_stream(spark, sf_dir):
    """Snapshot (op='r') unified with incremental changes through the
    *same* apply path (`snapshot.mode=initial`,
    `connect-sqlserver-source.json:14`): apply everything onto an empty
    mirror — snapshot rows are just the oldest upserts."""
    ch = changelog(spark, sf_dir)
    empty = ch.select("k", "name", "bal").limit(0)
    return apply_changes(empty, ch, keys=["k"])


@query(
    "q_cdc_mirror_verify",
    oracle=f"""
        WITH mirror AS ({MIRROR_SQL}), expected AS ({MIRROR_SQL})
        SELECT * FROM (
            SELECT * FROM mirror EXCEPT ALL SELECT * FROM expected
            UNION ALL
            SELECT * FROM expected EXCEPT ALL SELECT * FROM mirror
        )
    """,
)
def q_cdc_mirror_verify(spark, sf_dir):
    """Mirror validation with real assertions (vs the eyeball check of
    `test_cdc.py:75-92`): two-sided exceptAll of applied mirror vs the
    independently-computed expected post-image — must be empty."""
    ch = changelog(spark, sf_dir)
    empty = ch.select("k", "name", "bal").limit(0)
    mirror = apply_changes(empty, ch, keys=["k"])
    latest = compact_latest(ch, ["k"])
    expected = latest.filter(F.col("op") != "d").select("k", "name", "bal")
    return mirror_diff(mirror, expected)


@query(
    "q_cdc_soft_delete_log",
    oracle=f"""
        WITH changes AS ({CHANGELOG_SQL})
        SELECT k, name, bal, op, ts_ms, off,
               'cdc.commerce_account' AS _cdc_target,
               'commerce.account' AS _cdc_source,
               CASE WHEN op = 'd' THEN TRUE ELSE FALSE END AS _cdc_deleted
        FROM changes
    """,
)
def q_cdc_soft_delete_log(spark, sf_dir):
    """Append-only audit log: every change event with its ``_cdc``
    metadata (op/ts/offset/source/target), deletes retained as
    soft-delete markers (`connect-iceberg-sink.json:11-13`)."""
    return changelog(spark, sf_dir).select(
        "k",
        "name",
        "bal",
        "op",
        "ts_ms",
        "off",
        F.lit("cdc.commerce_account").alias("_cdc_target"),
        F.lit("commerce.account").alias("_cdc_source"),
        (F.col("op") == "d").alias("_cdc_deleted"),
    )


@query(
    "q_cdc_diff",
    oracle="""
        WITH old_t AS (
            SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name, c_acctbal AS bal
            FROM customer
        ),
        new_t AS (
            SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
                   CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 50.0
                        ELSE c_acctbal END AS bal
            FROM customer WHERE c_custkey % 7 <> 0
            UNION ALL
            SELECT c_custkey + 20000000, 'ins_' || c_name, c_acctbal
            FROM customer WHERE c_custkey % 11 = 0
        )
        SELECT COALESCE(n.k, o.k) AS k, n.name AS name, n.bal AS bal,
               CASE WHEN o.k IS NULL THEN 'c'
                    WHEN n.k IS NULL THEN 'd'
                    ELSE 'u' END AS op
        FROM old_t o FULL JOIN new_t n ON o.k = n.k
        WHERE o.k IS NULL OR n.k IS NULL
           OR o.name IS DISTINCT FROM n.name OR o.bal IS DISTINCT FROM n.bal
    """,
)
def q_cdc_diff(spark, sf_dir):
    """Incremental read / changelog scan: diff two versions of the
    customer mirror into c/u/d events (the Iceberg changelog-scan
    semantic, inverse of q_cdc_apply; round-trip law in tests)."""
    from .diff import table_changes

    c = load(spark, sf_dir, "customer")
    old = c.select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    new = (
        old.filter(F.col("k") % 7 != 0)
        .withColumn(
            "bal",
            F.when(F.col("k") % 10 == 0, F.col("bal") + 50.0).otherwise(F.col("bal")),
        )
        .unionByName(
            old.filter(F.col("k") % 11 == 0).select(
                (F.col("k") + 20_000_000).alias("k"),
                F.concat(F.lit("ins_"), F.col("name")).alias("name"),
                "bal",
            )
        )
    )
    return table_changes(old, new, keys=["k"]).select("k", "name", "bal", "op")


def _asof_sql(cutoff: int) -> str:
    """Latest-wins mirror state considering only events ts_ms <= cutoff."""
    return f"""
        SELECT k, name, bal FROM (
            SELECT k, name, bal, op,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY ts_ms DESC, off DESC) AS rn
            FROM changes WHERE ts_ms <= {cutoff}
        ) WHERE rn = 1 AND op <> 'd'
    """


TIME_TRAVEL_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL})
    SELECT CAST(0 AS BIGINT) AS version, * FROM ({_asof_sql(1000)})
    UNION ALL
    SELECT 1, * FROM ({_asof_sql(3000)})
    UNION ALL
    SELECT 2, * FROM ({_asof_sql(5000)})
"""


def _snapshot_mirror(spark, sf_dir):
    """Shared fixture: v0 = snapshot, v1 = batch of ts 2000-3000 events,
    v2 = batch of ts 4000-5000 events, through SnapshotMirror commits."""
    from .versioned import SnapshotMirror

    ch = changelog(spark, sf_dir)
    m = SnapshotMirror(spark, tempfile.mkdtemp(prefix="cdc_versioned_"),
                       keys=["k"])
    m.init(ch.filter(F.col("op") == "r").select("k", "name", "bal"))
    m.apply(ch.filter(F.col("ts_ms").between(1001, 3000)))
    m.apply(ch.filter(F.col("ts_ms") > 3000))
    return m


@query("q_cdc_time_travel", oracle=TIME_TRAVEL_SQL)
def q_cdc_time_travel(spark, sf_dir):
    """Snapshot versioning + time travel on the parquet fallback
    (cdc/versioned.py): three commits (snapshot, mid-stream batch,
    final batch), every version read back AS OF its commit — the
    Iceberg snapshot ledger (`connect-iceberg-sink.json:15-16`)
    without Iceberg. Each commit wrote only its touched buckets; the
    manifest carries untouched buckets forward by reference."""
    m = _snapshot_mirror(spark, sf_dir)
    out = None
    for v in m.versions():
        tagged = m.read(v).select(F.lit(v).cast("long").alias("version"),
                                  "k", "name", "bal")
        out = tagged if out is None else out.unionByName(tagged)
    return out


INCREMENTAL_READ_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    v0 AS ({_asof_sql(1000)}),
    v2 AS ({_asof_sql(5000)})
    SELECT COALESCE(n.k, o.k) AS k, n.name AS name, n.bal AS bal,
           CASE WHEN o.k IS NULL THEN 'c'
                WHEN n.k IS NULL THEN 'd'
                ELSE 'u' END AS op
    FROM v0 o FULL JOIN v2 n ON o.k = n.k
    WHERE o.k IS NULL OR n.k IS NULL
       OR o.name IS DISTINCT FROM n.name OR o.bal IS DISTINCT FROM n.bal
"""


@query("q_cdc_incremental_read", oracle=INCREMENTAL_READ_SQL)
def q_cdc_incremental_read(spark, sf_dir):
    """Incremental read between snapshots (Iceberg changelog scan):
    the net c/u/d delta from version 0 to version 2 of the versioned
    mirror — what a downstream consumer reads to catch up without
    rescanning the table."""
    m = _snapshot_mirror(spark, sf_dir)
    return m.diff(0, 2).select("k", "name", "bal", "op")


SCD2_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    versioned AS (
        SELECT k, name, bal, op, ts_ms,
               lead(ts_ms) OVER (PARTITION BY k ORDER BY ts_ms, off)
                   AS valid_to
        FROM changes
    )
    SELECT k, name, bal,
           CAST(ts_ms AS BIGINT) AS valid_from,
           CAST(valid_to AS BIGINT) AS valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM versioned WHERE op <> 'd'
"""


@query("q_cdc_scd2", oracle=SCD2_SQL)
def q_cdc_scd2(spark, sf_dir):
    """SCD Type 2 dimension history from the changelog: every change
    event opens a version row valid [ts_ms, next-event ts_ms); the
    latest open version is flagged current. Delete events emit no row
    but CLOSE the preceding version (their ts becomes its valid_to via
    the lead() over ALL events, deletes included) — so a re-insert
    after a delete leaves a validity gap, which is the correct SCD2
    rendering of delete-then-reinsert keys.

    This is the reference pipeline's "keep history" sink mode
    (cf. Debezium envelope before/after images,
    `connect-iceberg-sink.json:30-33` upsert config) re-expressed as
    one window pass. Scale shape: a single shuffle on k (the window
    partition), no join at all — at 100 TB the changelog is already
    bucketed by key for the apply path, so this window reuses that
    layout Exchange-free."""
    ch = changelog(spark, sf_dir)
    w = Window.partitionBy("k").orderBy("ts_ms", "off")
    return (
        ch.withColumn("valid_to", F.lead("ts_ms").over(w))
        .filter(F.col("op") != "d")
        .select(
            "k",
            "name",
            "bal",
            F.col("ts_ms").cast("long").alias("valid_from"),
            F.col("valid_to").cast("long"),
            F.when(F.col("valid_to").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_current"),
        )
    )


DLQ_MOD = 37  # deterministic corruption rule: every 37th key's record
#               arrives malformed (truncated payload)

DEAD_LETTER_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL})
    SELECT CASE WHEN k % {DLQ_MOD} = 0 THEN 'dlq'
                ELSE 'cdc.commerce_account' END AS route,
           CASE WHEN k % {DLQ_MOD} = 0 THEN NULL ELSE op END AS op,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM changes
    GROUP BY 1, 2
"""


@query("q_cdc_dead_letter", oracle=DEAD_LETTER_SQL)
def q_cdc_dead_letter(spark, sf_dir):
    """Dead-letter-queue routing (Kafka Connect ``errors.tolerance:
    all`` + ``errors.deadletterqueue.topic.name`` parity): envelopes
    that fail JSON decode are routed to a DLQ with the raw payload
    preserved; well-formed records proceed to their table route. The
    corruption is planted deterministically (every {DLQ_MOD}th key's
    value truncated mid-string) so the oracle can replicate the
    routing decision without parsing JSON.

    The decode is ``from_json`` in PERMISSIVE mode — a malformed
    record yields an envelope whose mandatory ``op`` field is null
    (Debezium always sets op), which IS the routing predicate: no
    Python, no exception path, no second parse. Scale:
    narrow per-row codec + one map-side-combinable count; the DLQ in
    production is a partitioned append sink fed by the same
    ``when(parsed.isNull())`` split."""
    from .envelope import ENVELOPE_SCHEMA

    enveloped = encode_envelope(changelog(spark, sf_dir))
    # Truncate the JSON payload for planted keys -> guaranteed parse
    # failure that still carries bytes to preserve in the DLQ.
    corrupted = enveloped.select(
        "key",
        F.when(
            F.col("key") % DLQ_MOD == 0, F.substring("value", 1, 10)
        ).otherwise(F.col("value")).alias("value"),
    )
    parsed = corrupted.withColumn(
        "env", F.from_json("value", ENVELOPE_SCHEMA)
    )
    return (
        parsed.select(
            F.when(F.col("env.op").isNull(), F.lit("dlq"))
            .otherwise(F.lit("cdc.commerce_account"))
            .alias("route"),
            F.col("env.op").alias("op"),
        )
        .groupBy("route", "op")
        .agg(F.count("*").cast("long").alias("n"))
    )


OFFSET_GAPS_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    seq AS (
        SELECT op, off,
               lag(off) OVER (PARTITION BY op ORDER BY off) AS prev_off
        FROM changes
    )
    SELECT op,
           CAST(prev_off + 1 AS BIGINT) AS gap_start,
           CAST(off - 1 AS BIGINT) AS gap_end,
           CAST(off - prev_off - 1 AS BIGINT) AS n_missing
    FROM seq
    WHERE prev_off IS NOT NULL AND off - prev_off > 1
"""


@query("q_cdc_offset_gaps", oracle=OFFSET_GAPS_SQL)
def q_cdc_offset_gaps(spark, sf_dir):
    """Offset-continuity audit: find gaps in the per-op-stream LSN
    sequence — the check a CDC consumer runs to detect dropped change
    events (Debezium's offset tracking,
    `connect-standalone.properties:13-14`, makes offsets contiguous
    per stream; a hole means data loss between source and sink). The
    fixture's modulo-filtered branches produce natural gaps, so the
    detector has real positives to find.

    Scale shape: one window pass partitioned by the stream id — at
    100 TB the changelog is already bucketed by stream/partition, so
    this audit is a narrow per-partition scan with no extra shuffle
    beyond the partitioning it inherits."""
    ch = changelog(spark, sf_dir)
    w = Window.partitionBy("op").orderBy("off")
    seq = ch.select("op", "off", F.lag("off").over(w).alias("prev_off"))
    return seq.filter(
        F.col("prev_off").isNotNull() & (F.col("off") - F.col("prev_off") > 1)
    ).select(
        "op",
        (F.col("prev_off") + 1).cast("long").alias("gap_start"),
        (F.col("off") - 1).cast("long").alias("gap_end"),
        (F.col("off") - F.col("prev_off") - 1).cast("long").alias("n_missing"),
    )


SNAPSHOT_LOG_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL})
    SELECT CAST(0 AS BIGINT) AS version,
           CAST((SELECT COUNT(*) FROM ({_asof_sql(1000)})) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 1, (SELECT COUNT(*) FROM ({_asof_sql(3000)}))
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM ({_asof_sql(5000)}))
"""


@query("q_cdc_snapshot_log", oracle=SNAPSHOT_LOG_SQL)
def q_cdc_snapshot_log(spark, sf_dir):
    """Table-history metadata query — the analogue of Iceberg's
    ``snapshots`` metadata table (the reference's operators inspect
    table history through it): one row per committed version with its
    live row count, read from the SAME manifests the time-travel reads
    use, so the ledger and the data can't drift apart.

    At 100 TB the row count per version would come from manifest
    statistics (Iceberg stores per-file counts) rather than a scan;
    here each version IS scanned — the fallback's honest cost — which
    doubles as an end-to-end audit that every version stays readable."""
    m = _snapshot_mirror(spark, sf_dir)
    out = None
    for v in m.versions():
        row = m.read(v).agg(F.count("*").cast("long").alias("n_rows")).select(
            F.lit(v).cast("long").alias("version"), "n_rows"
        )
        out = row if out is None else out.unionByName(row)
    return out


EVOLVE_SQL = """
    WITH snap AS (
        SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
               c_acctbal AS bal, CAST(NULL AS VARCHAR) AS tier,
               'r' AS op, CAST(1000 AS BIGINT) AS ts_ms,
               CAST(c_custkey AS BIGINT) AS off
        FROM customer
    ), drifted AS (
        SELECT CAST(c_custkey AS BIGINT), c_name, c_acctbal + 100.0,
               c_mktsegment, 'u', CAST(2000 AS BIGINT),
               CAST(1000000 + c_custkey AS BIGINT)
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 10000000, 'new_' || c_name, c_acctbal,
               c_mktsegment, 'c', 2500, 4000000 + c_custkey
        FROM customer WHERE c_custkey % 13 = 0
        UNION ALL
        SELECT CAST(c_custkey AS BIGINT), NULL, NULL, NULL, 'd', 3000,
               CAST(2000000 + c_custkey AS BIGINT)
        FROM customer WHERE c_custkey % 7 = 0
    ), unioned AS (
        SELECT * FROM snap UNION ALL SELECT * FROM drifted
    ), ranked AS (
        SELECT k, name, bal, tier, op,
               row_number() OVER (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM unioned
    )
    SELECT k, name, bal, tier FROM ranked WHERE rn = 1 AND op <> 'd'
"""


@query("q_cdc_apply_evolve", oracle=EVOLVE_SQL)
def q_cdc_apply_evolve(spark, sf_dir):
    """CDC apply under MID-STREAM SCHEMA DRIFT: the source table gains
    a column (`tier`) after the snapshot was taken, so later change
    events carry a wider payload than the mirror. The sink must evolve
    the mirror schema (add-column-at-end, existing rows read NULL) and
    keep upserting — Iceberg sink behavior for evolving Debezium
    payloads (`connect-iceberg-sink.json:15-16`; Iceberg spec schema
    evolution). Fallback = evolve_schema (typed-NULL widen, zero data
    rewrite — a metadata-only operation on a real Iceberg table) + the
    standard latest-wins apply.

    Scale: identical to q_cdc_apply — the widen adds a NULL literal to
    the projection, no extra shuffle, no rewrite of unmatched rows."""
    c = load(spark, sf_dir, "customer")
    snapshot = c.select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )

    def branch(df, op, ts_ms, off_base, name_col, bal_col, tier_col, key_shift=0):
        return df.select(
            (F.col("c_custkey") + F.lit(key_shift)).cast("long").alias("k"),
            name_col.cast("string").alias("name"),
            bal_col.cast("double").alias("bal"),
            tier_col.cast("string").alias("tier"),
            F.lit(op).alias("op"),
            F.lit(ts_ms).cast("long").alias("ts_ms"),
            (F.col("c_custkey") + F.lit(off_base)).cast("long").alias("off"),
        )

    upd = branch(
        c.filter(F.col("c_custkey") % 10 == 0), "u", 2000, 1_000_000,
        F.col("c_name"), F.col("c_acctbal") + F.lit(100.0), F.col("c_mktsegment"),
    )
    ins = branch(
        c.filter(F.col("c_custkey") % 13 == 0), "c", 2500, 4_000_000,
        F.concat(F.lit("new_"), F.col("c_name")), F.col("c_acctbal"),
        F.col("c_mktsegment"), key_shift=10_000_000,
    )
    dele = branch(
        c.filter(F.col("c_custkey") % 7 == 0), "d", 3000, 2_000_000,
        F.lit(None), F.lit(None), F.lit(None),
    )
    changes = upd.unionByName(ins).unionByName(dele)
    evolved = evolve_schema(snapshot, changes.drop("op", "ts_ms", "off"))
    return apply_changes(evolved, changes, keys=["k"])


EXPIRE_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL})
    SELECT CAST(1 AS BIGINT) AS version,
           CAST((SELECT COUNT(*) FROM ({_asof_sql(3000)})) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS expired
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM ({_asof_sql(5000)})), 0
    UNION ALL
    SELECT 0, (SELECT COUNT(*) FROM ({_asof_sql(1000)})), 1
"""


@query("q_cdc_expire_snapshots", oracle=EXPIRE_SQL)
def q_cdc_expire_snapshots(spark, sf_dir):
    """Snapshot retention — Iceberg's ``expire_snapshots`` maintenance
    procedure on the parquet fallback: build a fresh 3-version mirror,
    expire to the last 2, and report the ledger (expired versions keep
    their pre-expiry row counts; retained versions are re-counted from
    the SURVIVING files, proving expiry removed only unreferenced
    commit data — bucket dirs still referenced by live manifests are
    kept even when their commit's manifest is gone).

    Scale: expiry is pure manifest/file bookkeeping — no data scan, no
    shuffle; the verification re-reads are this query's own audit cost.
    A dedicated mirror (not the shared cached fixture) because expiry
    mutates state; the build cost is the same 3 commits q_cdc_time_travel
    pays."""
    from .versioned import SnapshotMirror

    ch = changelog(spark, sf_dir)
    m = SnapshotMirror(spark, tempfile.mkdtemp(prefix="cdc_expire_"),
                       keys=["k"])
    m.init(ch.filter(F.col("op") == "r").select("k", "name", "bal"))
    m.apply(ch.filter(F.col("ts_ms").between(1001, 3000)))
    m.apply(ch.filter(F.col("ts_ms") > 3000))
    pre_counts = {v: m.read(v).count() for v in m.versions()}
    dead = m.expire(keep_last=2)
    rows = None
    for v in m.versions():
        row = m.read(v).agg(F.count("*").cast("long").alias("n_rows")).select(
            F.lit(v).cast("long").alias("version"), "n_rows",
            F.lit(0).cast("long").alias("expired"),
        )
        rows = row if rows is None else rows.unionByName(row)
    for v in dead:
        row = spark.range(1).select(
            F.lit(v).cast("long").alias("version"),
            F.lit(pre_counts[v]).cast("long").alias("n_rows"),
            F.lit(1).cast("long").alias("expired"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


COMPACT_HORIZON_MS = 4500  # tombstones older than this are reclaimed

COMPACT_LOG_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    latest AS (
        SELECT k, name, bal, op, ts_ms, off,
               row_number() OVER (PARTITION BY k
                                  ORDER BY ts_ms DESC, off DESC) AS rn
        FROM changes
    )
    SELECT k, name, bal, op, ts_ms, off
    FROM latest
    WHERE rn = 1
      AND NOT (op = 'd' AND ts_ms < {COMPACT_HORIZON_MS})
"""


@query("q_cdc_compact_log", oracle=COMPACT_LOG_SQL)
def q_cdc_compact_log(spark, sf_dir):
    """Kafka log-compaction parity (`cleanup.policy=compact`, the
    retention mode of the reference's per-table change topics,
    `connect-sqlserver-source.json:10-12`): keep only the LATEST
    event per key, retaining tombstones ('d') newer than the
    delete-retention horizon so late consumers still observe the
    delete, and reclaiming older ones entirely.

    Distinct from q_cdc_apply (the table VIEW of the log — tombstoned
    keys vanish): compaction is the LOG's self-view — recent
    tombstones survive as events. One window pass on k; at 100 TB
    this is the same single-shuffle shape as the apply path, and in
    practice runs per topic-partition (k is the partition key, so the
    shuffle is partition-local on a real Kafka layout)."""
    w = Window.partitionBy("k").orderBy(F.col("ts_ms").desc(), F.col("off").desc())
    return (
        changelog(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & ~((F.col("op") == "d") & (F.col("ts_ms") < COMPACT_HORIZON_MS))
        )
        .drop("rn")
    )


LAG_WATERMARK_OFF = 3_000_000  # mirror applied through this offset
LAG_PARTS = 4  # simulated topic partitions (key-hash routed)

REPL_LAG_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    parted AS (SELECT *, k % {LAG_PARTS} AS part FROM changes)
    SELECT part,
           CAST(MAX(off) AS BIGINT) AS latest_off,
           CAST(MAX(CASE WHEN off <= {LAG_WATERMARK_OFF} THEN off END) AS BIGINT)
               AS applied_off,
           CAST(COUNT(CASE WHEN off > {LAG_WATERMARK_OFF} THEN 1 END) AS BIGINT)
               AS lag_events,
           CAST(MAX(ts_ms)
                - MAX(CASE WHEN off <= {LAG_WATERMARK_OFF} THEN ts_ms END)
                AS BIGINT) AS lag_ms
    FROM parted
    GROUP BY part
"""


@query("q_cdc_lag", oracle=REPL_LAG_SQL)
def q_cdc_lag(spark, sf_dir):
    """Replication-lag report — the monitoring query every CDC
    deployment runs against Debezium's offset topic (the reference
    surfaces it via Kafka Connect's consumer-lag metrics,
    `setup.sh:35-40` stack): per topic partition (key-hash routed,
    k % 4), the newest produced offset, the newest APPLIED offset
    (sink watermark), and the lag in events and milliseconds.

    One map-combinable groupBy over the log — O(partitions) output
    regardless of log size; conditional aggregates avoid a second
    scan for the applied side. At 100 TB the log scan prunes to
    offsets near the watermark when the transport exposes
    startingOffsets (the streaming twin reads only the tail)."""
    ch = changelog(spark, sf_dir).withColumn("part", F.col("k") % LAG_PARTS)
    applied = F.when(F.col("off") <= LAG_WATERMARK_OFF, F.col("off"))
    applied_ts = F.when(F.col("off") <= LAG_WATERMARK_OFF, F.col("ts_ms"))
    return ch.groupBy("part").agg(
        F.max("off").cast("long").alias("latest_off"),
        F.max(applied).cast("long").alias("applied_off"),
        F.count(F.when(F.col("off") > LAG_WATERMARK_OFF, F.lit(1))).alias("lag_events"),
        (F.max("ts_ms") - F.max(applied_ts)).cast("long").alias("lag_ms"),
    )


PSI_BINS = 10

DRIFT_PSI_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    old AS ({_asof_sql(1000)}),
    new AS ({_asof_sql(5000)}),
    stats AS (
        SELECT MIN(bal) AS lo, MAX(bal) AS hi FROM (
            SELECT bal FROM old UNION ALL SELECT bal FROM new
        )
    ),
    ob AS (
        SELECT LEAST(CAST(FLOOR((bal - lo) / ((hi - lo) / {PSI_BINS})) AS BIGINT),
                     {PSI_BINS - 1}) AS bin, COUNT(*) AS n
        FROM old, stats GROUP BY 1
    ),
    nb AS (
        SELECT LEAST(CAST(FLOOR((bal - lo) / ((hi - lo) / {PSI_BINS})) AS BIGINT),
                     {PSI_BINS - 1}) AS bin, COUNT(*) AS n
        FROM new, stats GROUP BY 1
    ),
    tot AS (
        SELECT (SELECT SUM(n) FROM ob) AS n_old_t,
               (SELECT SUM(n) FROM nb) AS n_new_t
    ),
    spine AS (SELECT CAST(t.range AS BIGINT) AS bin FROM range({PSI_BINS}) t)
    SELECT s.bin,
           CAST(COALESCE(ob.n, 0) AS BIGINT) AS n_old,
           CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_new,
           ROUND(
             ((COALESCE(ob.n, 0) + 1.0) / (n_old_t + {PSI_BINS}.0)
              - (COALESCE(nb.n, 0) + 1.0) / (n_new_t + {PSI_BINS}.0))
             * LN(((COALESCE(ob.n, 0) + 1.0) / (n_old_t + {PSI_BINS}.0))
                  / ((COALESCE(nb.n, 0) + 1.0) / (n_new_t + {PSI_BINS}.0))),
             6) AS psi_term
    FROM spine s
    LEFT JOIN ob ON ob.bin = s.bin
    LEFT JOIN nb ON nb.bin = s.bin, tot
"""


@query("q_cdc_drift_psi", oracle=DRIFT_PSI_SQL)
def q_cdc_drift_psi(spark, sf_dir):
    """Distribution-drift monitor between table versions: the
    Population Stability Index of `bal` from the v0 snapshot to the
    final mirror state, per bin — the screen a CDC-fed feature store
    runs before trusting a refreshed table (PSI > 0.2 ⇒ retrain /
    investigate).

    Scale shape: two latest-wins states from ONE changelog scan
    (shared window pass), a 1-row min/max broadcast, then two
    10-group map-combinable counts — the exchanges carry bins, not
    rows. The bin spine is generated (spark.range) so empty bins
    surface as rows; Laplace +1 smoothing keeps ln() finite, and
    rounded terms make the float path cross-engine exact."""
    ch = changelog(spark, sf_dir)
    w = Window.partitionBy("k").orderBy(F.col("ts_ms").desc(), F.col("off").desc())

    def asof(cutoff):
        return (
            ch.filter(F.col("ts_ms") <= cutoff)
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "d"))
            .select("bal")
        )

    old, new = asof(1000), asof(5000)
    stats = old.unionByName(new).agg(
        F.min("bal").alias("lo"), F.max("bal").alias("hi")
    )

    def bins(df):
        return (
            df.crossJoin(F.broadcast(stats))
            .select(
                F.least(
                    F.floor((F.col("bal") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / PSI_BINS)).cast("long"),
                    F.lit(PSI_BINS - 1).cast("long"),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
        )

    ob = bins(old).withColumnRenamed("n", "n_old")
    nb = bins(new).withColumnRenamed("n", "n_new")
    tot = ob.agg(F.sum("n_old").alias("n_old_t")).crossJoin(
        nb.agg(F.sum("n_new").alias("n_new_t"))
    )
    spine = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    j = (
        spine.join(F.broadcast(ob), "bin", "left")
        .join(F.broadcast(nb), "bin", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.col("n_old_t"),
            F.col("n_new_t"),
        )
    )
    p = (F.col("n_old") + 1.0) / (F.col("n_old_t") + float(PSI_BINS))
    q = (F.col("n_new") + 1.0) / (F.col("n_new_t") + float(PSI_BINS))
    return j.select(
        "bin",
        "n_old",
        "n_new",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


@query("q_cdc_merge_on_read", oracle=MIRROR_SQL)
def q_cdc_merge_on_read(spark, sf_dir):
    """Iceberg v2 MERGE-ON-READ apply through the streaming mirror
    (cdc/bucketed.py BucketedMirror) — the write-cheap half of the
    reference's upsert story (`connect-iceberg-sink.json:30-33` with
    `write.delete.mode=merge-on-read`): a commit rewrites only the
    mirror's pending delta (the latest post-image of every changed key,
    deletes as tombstones), never the base — O(changes) write
    amplification.

    The mirror is initialised from the snapshot (op='r') and the
    change events are committed per ``ts_ms`` group, the changelog's
    own commit order: the whole changelog at once is past the fold
    threshold and would fold straight into the base. The per-group
    commits fold whenever the delta outgrows it and end with a delta
    pending, so the returned read is the merge-on-read shape: base
    ANTI-JOIN the delta's keys (broadcast — a pending delta fits a
    broadcast by construction) UNION the delta's live rows. Reads pay
    that merge until a fold or ``compact()`` rewrites the touched
    buckets; both paths end at the identical latest-wins mirror, which
    is exactly what the oracle checks."""
    from .bucketed import BucketedMirror

    ch = changelog(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_mor_"), "mirror")
    m = BucketedMirror(spark, path, keys=["k"])
    m.init(ch.filter(F.col("op") == "r").select("k", "name", "bal"))
    changes = ch.filter(F.col("op") != "r")
    for (ts,) in changes.select("ts_ms").distinct().orderBy("ts_ms").collect():
        m.apply(changes.filter(F.col("ts_ms") == ts), tag=f"ts{ts}")
    assert m.delta_rows > 0, "the last commit folded: no delta to read"
    return m.read()


WAP_BAL_LO, WAP_BAL_HI = -1000.0, 11000.0
WAP_MAX_DELTA = 0.5  # |staged - published| may not exceed 50% of published

WAP_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    staged AS ({mirror_cte('SELECT * FROM changes')}),
    snap AS (SELECT COUNT(*) AS n0 FROM changes WHERE op = 'r'),
    s AS (
        SELECT COUNT(*) AS n,
               COUNT(CASE WHEN k IS NULL THEN 1 END) AS null_k,
               COUNT(CASE WHEN bal < {WAP_BAL_LO} OR bal > {WAP_BAL_HI}
                          THEN 1 END) AS range_v
        FROM staged
    ),
    d AS (
        SELECT COALESCE(SUM(c - 1), 0) AS dup FROM (
            SELECT COUNT(*) AS c FROM staged GROUP BY k
        )
    ),
    a AS (
        SELECT s.n, s.null_k, s.range_v, d.dup,
               CASE WHEN ABS(s.n - snap.n0) > {WAP_MAX_DELTA} * snap.n0
                    THEN 1 ELSE 0 END AS delta_v
        FROM s, d, snap
    )
    SELECT 'unique_key' AS rule, CAST(dup AS BIGINT) AS violations,
           dup = 0 AS passed FROM a
    UNION ALL
    SELECT 'non_null_key', null_k, null_k = 0 FROM a
    UNION ALL
    SELECT 'bal_range', range_v, range_v = 0 FROM a
    UNION ALL
    SELECT 'row_delta', delta_v, delta_v = 0 FROM a
    UNION ALL
    SELECT 'published_rows', n,
           dup = 0 AND null_k = 0 AND range_v = 0 AND delta_v = 0 FROM a
"""


@query("q_cdc_wap", oracle=WAP_SQL)
def q_cdc_wap(spark, sf_dir):
    """Write-Audit-Publish (Iceberg's WAP workflow, the guarded-commit
    pattern the reference's lake maintenance implies): the applied
    batch lands in a STAGED view, a declarative audit runs against it
    (key uniqueness, non-null keys, value-range CHECK, row-count delta
    vs the published snapshot bounded at ±{int(WAP_MAX_DELTA*100)}%),
    and publication is gated on every rule passing — the report's
    final row carries the would-be published row count and the gate
    verdict.

    Scale shape: all four audits are count-only aggregates over ONE
    staged scan (the uniqueness audit adds one map-combinable groupBy
    whose shuffle carries per-key counts); the verdict join combines
    1-row relations. O(rules) output regardless of table size — same
    contract as q_quality_checks, specialized to the commit gate."""
    ch = changelog(spark, sf_dir)
    w = Window.partitionBy("k").orderBy(F.col("ts_ms").desc(), F.col("off").desc())
    staged = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("k", "name", "bal")
    )
    snap = ch.filter(F.col("op") == "r").agg(F.count("*").alias("n0"))
    s = staged.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("null_k"),
        F.count(
            F.when((F.col("bal") < WAP_BAL_LO) | (F.col("bal") > WAP_BAL_HI), 1)
        ).alias("range_v"),
    )
    d = (
        staged.groupBy("k")
        .agg(F.count("*").alias("c"))
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("dup"))
    )
    a = (
        s.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(snap))
        .select(
            "n",
            "null_k",
            "range_v",
            "dup",
            F.when(
                F.abs(F.col("n") - F.col("n0")) > WAP_MAX_DELTA * F.col("n0"), 1
            )
            .otherwise(0)
            .alias("delta_v"),
        )
    )

    def row(rule, v_col, pass_col):
        return a.select(
            F.lit(rule).alias("rule"),
            v_col.cast("long").alias("violations"),
            pass_col.alias("passed"),
        )

    all_pass = (
        (F.col("dup") == 0)
        & (F.col("null_k") == 0)
        & (F.col("range_v") == 0)
        & (F.col("delta_v") == 0)
    )
    return (
        row("unique_key", F.col("dup"), F.col("dup") == 0)
        .unionByName(row("non_null_key", F.col("null_k"), F.col("null_k") == 0))
        .unionByName(row("bal_range", F.col("range_v"), F.col("range_v") == 0))
        .unionByName(row("row_delta", F.col("delta_v"), F.col("delta_v") == 0))
        .unionByName(row("published_rows", F.col("n"), all_pass))
    )


# Patch-style changelog: updates carry ONLY the changed column (the
# other is NULL with has_<col>=0 — "unchanged", not "set to NULL").
PATCH_CHANGELOG_SQL = """
    SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name, c_acctbal AS bal,
           1 AS has_name, 1 AS has_bal,
           'r' AS op, CAST(1000 AS BIGINT) AS ts_ms,
           CAST(c_custkey AS BIGINT) AS off
    FROM customer
    UNION ALL
    SELECT c_custkey, NULL, c_acctbal + 500.0, 0, 1, 'u', 2000,
           1000000 + c_custkey
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name || '!', NULL, 1, 0, 'u', 3000,
           2000000 + c_custkey
    FROM customer WHERE c_custkey % 4 = 0
    UNION ALL
    SELECT c_custkey, NULL, NULL, 0, 0, 'd', 4000, 3000000 + c_custkey
    FROM customer WHERE c_custkey % 7 = 0
"""

PARTIAL_UPDATE_SQL = f"""
    WITH changes AS ({PATCH_CHANGELOG_SQL}),
    alive AS (
        SELECT k FROM (
            SELECT k, op, row_number() OVER (PARTITION BY k
                                             ORDER BY ts_ms DESC, off DESC) AS rn
            FROM changes
        ) WHERE rn = 1 AND op <> 'd'
    ),
    latest_name AS (
        SELECT k, name FROM (
            SELECT k, name, row_number() OVER (PARTITION BY k
                                               ORDER BY ts_ms DESC, off DESC) AS rn
            FROM changes WHERE has_name = 1
        ) WHERE rn = 1
    ),
    latest_bal AS (
        SELECT k, bal FROM (
            SELECT k, bal, row_number() OVER (PARTITION BY k
                                              ORDER BY ts_ms DESC, off DESC) AS rn
            FROM changes WHERE has_bal = 1
        ) WHERE rn = 1
    )
    SELECT a.k, n.name, b.bal
    FROM alive a
    LEFT JOIN latest_name n ON n.k = a.k
    LEFT JOIN latest_bal b ON b.k = a.k
"""


def patch_changelog(spark, sf_dir):
    """Column-mask patch changelog (DuckDB twin: PATCH_CHANGELOG_SQL)."""
    c = load(spark, sf_dir, "customer")

    def branch(df, name_col, bal_col, has_name, has_bal, op, ts_ms, off_base):
        return df.select(
            F.col("c_custkey").cast("long").alias("k"),
            name_col.cast("string").alias("name"),
            bal_col.cast("double").alias("bal"),
            F.lit(has_name).alias("has_name"),
            F.lit(has_bal).alias("has_bal"),
            F.lit(op).alias("op"),
            F.lit(ts_ms).cast("long").alias("ts_ms"),
            (F.col("c_custkey") + F.lit(off_base)).cast("long").alias("off"),
        )

    snap = branch(c, F.col("c_name"), F.col("c_acctbal"), 1, 1, "r", 1000, 0)
    p_bal = branch(
        c.filter(F.col("c_custkey") % 10 == 0),
        F.lit(None), F.col("c_acctbal") + 500.0, 0, 1, "u", 2000, 1_000_000,
    )
    p_name = branch(
        c.filter(F.col("c_custkey") % 4 == 0),
        F.concat(F.col("c_name"), F.lit("!")), F.lit(None), 1, 0, "u", 3000, 2_000_000,
    )
    dele = branch(
        c.filter(F.col("c_custkey") % 7 == 0),
        F.lit(None), F.lit(None), 0, 0, "d", 4000, 3_000_000,
    )
    return snap.unionByName(p_bal).unionByName(p_name).unionByName(dele)


@query("q_cdc_partial_update", oracle=PARTIAL_UPDATE_SQL)
def q_cdc_partial_update(spark, sf_dir):
    """Partial-update (column-mask) CDC apply — the Debezium subtlety
    whole-row latest-wins gets WRONG: a patch event carries only its
    changed columns, with a mask distinguishing "column unchanged"
    from "column set to NULL". A key patched twice (bal at ts 2000,
    name at ts 3000) must end with BOTH patches applied; naive
    latest-wins would resurrect the pre-2000 balance from the ts-3000
    event's empty bal slot.

    The merge is PER-COLUMN latest-wins: one window pass per carrying
    column over only the events that carry it (mask pushdown shrinks
    each pass), plus the liveness pass — all on the SAME k
    partitioning, so Spark plans one Exchange feeding three window
    evaluations and the co-partitioned assembly joins. Reference
    parity: Debezium's `column.include.list` sources emit exactly
    this shape; Iceberg MERGE with per-column conditions is the sink
    (`connect-iceberg-sink.json:30-33`)."""
    ch = patch_changelog(spark, sf_dir)

    w = Window.partitionBy("k").orderBy(F.col("ts_ms").desc(), F.col("off").desc())
    alive = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("k")
    )
    latest_name = (
        ch.filter(F.col("has_name") == 1)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "name")
    )
    latest_bal = (
        ch.filter(F.col("has_bal") == 1)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "bal")
    )
    return (
        alive.join(latest_name, "k", "left").join(latest_bal, "k", "left")
        .select("k", "name", "bal")
    )


VACUUM_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL})
    SELECT CAST(0 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows FROM ({_asof_sql(1000)})
    UNION ALL
    SELECT 1, COUNT(*) FROM ({_asof_sql(3000)})
    UNION ALL
    SELECT 2, COUNT(*) FROM ({_asof_sql(5000)})
    UNION ALL
    SELECT -1, 2
"""


@query("q_cdc_vacuum_orphans", oracle=VACUUM_SQL)
def q_cdc_vacuum_orphans(spark, sf_dir):
    """Orphan-file cleanup — Iceberg's `remove_orphan_files`, the
    maintenance sibling of q_cdc_expire_snapshots: data directories
    that NO manifest references (torn writes, failed commits — the
    manifest swap is the commit point, so a crash between data write
    and manifest write strands files) are detected by walking the
    data root against the union of every live manifest's file
    references, and deleted.

    This query plants two fake torn-commit directories in a fresh
    versioned mirror, vacuums, and returns per-version row counts
    read AFTER the vacuum plus an orphans-removed row (version -1) —
    hash-checked, so the oracle proves both that exactly the planted
    orphans died and that every committed version still reads intact
    (nothing referenced was touched). At 100 TB the walk is a
    metadata-only listing per bucket dir, and the referenced set is
    the manifest union — O(versions × buckets) strings."""
    m = _snapshot_mirror(spark, sf_dir)
    data_root = os.path.join(m.path, "data")
    # plant torn-commit leftovers: data dirs no manifest references
    planted = []
    for name in ("commit_torn_a", "commit_torn_b"):
        d = os.path.join(data_root, name, "bucket=0")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-orphan.parquet"), "w") as f:
            f.write("not a real footer")
        planted.append(os.path.join(data_root, name))
    # referenced = union of all live manifests' data dirs
    referenced = set()
    for v in m.versions():
        for bucket_dir in m._load_manifest(v)["buckets"].values():
            top = os.path.join(data_root, os.path.relpath(
                bucket_dir, data_root).split(os.sep)[0])
            referenced.add(top)
    removed = 0
    import shutil

    for entry in sorted(os.listdir(data_root)):
        full = os.path.join(data_root, entry)
        if full not in referenced:
            shutil.rmtree(full)
            removed += 1
    rows = [(v, m.read(v).count()) for v in m.versions()]
    rows.append((-1, removed))
    return spark.createDataFrame(rows, "version long, n_rows long")


FANOUT_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    mirror AS ({mirror_cte('SELECT * FROM changes')})
    SELECT 'mirror' AS sink, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
    FROM mirror
    UNION ALL
    SELECT 'agg_by_prefix', COUNT(*), CAST(SUM(s) AS DOUBLE) FROM (
        SELECT k % 10 AS pfx, SUM(CAST(bal AS DECIMAL(18,2))) AS s
        FROM mirror GROUP BY k % 10
    )
    UNION ALL
    SELECT 'changelog', COUNT(*), NULL FROM changes
"""


@query("q_cdc_fanout", oracle=FANOUT_SQL)
def q_cdc_fanout(spark, sf_dir):
    """Single-changelog fan-out — one CDC stream feeding TWO sinks
    (the row mirror and a derived aggregate table), with consistency
    verified in one report: the aggregate sink's total must equal the
    mirror's total because both are views of the same log prefix.
    This is the reference's one-topic-many-consumers topology
    (`connect-iceberg-sink.json` sink + downstream Trino aggregates)
    collapsed into a checkable relation.

    The changelog is scanned ONCE into the compacted mirror
    (persist-free: Catalyst reuses the window subplan for both sink
    branches under one union), each sink is a map-combinable
    aggregate, and the report is O(sinks) rows. Equality of the two
    bal_sum rows — decimal-exact on both paths — IS the fan-out
    consistency check, enforced by the hash oracle and by
    tests/test_r04b_ops.py directly."""
    ch = changelog(spark, sf_dir)
    w = Window.partitionBy("k").orderBy(F.col("ts_ms").desc(), F.col("off").desc())
    mirror = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("k", "name", "bal")
    )
    m_row = mirror.agg(
        F.lit("mirror").alias("sink"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("bal").cast("decimal(18,2)")).cast("double").alias("bal_sum"),
    )
    agg = mirror.groupBy((F.col("k") % 10).alias("pfx")).agg(
        F.sum(F.col("bal").cast("decimal(18,2)")).alias("s")
    )
    a_row = agg.agg(
        F.lit("agg_by_prefix").alias("sink"),
        F.count("*").alias("n_rows"),
        F.sum("s").cast("double").alias("bal_sum"),
    )
    c_row = ch.agg(
        F.lit("changelog").alias("sink"),
        F.count("*").alias("n_rows"),
        F.lit(None).cast("double").alias("bal_sum"),
    )
    return m_row.unionByName(a_row).unionByName(c_row)


CHECKSUM_SQL = f"""
    WITH mirror AS ({MIRROR_SQL}),
    hashed AS (
        SELECT ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1)) AS hv
        FROM (
            SELECT md5(CAST(k AS VARCHAR) || '|' || COALESCE(name, '<null>')
                       || '|' || COALESCE(CAST(CAST(bal AS DECIMAL(18,2))
                                               AS VARCHAR), '<null>')) AS h
            FROM mirror
        )
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(hv) AS BIGINT) AS checksum_sum,
           CAST(bit_xor(hv) AS BIGINT) AS checksum_xor
    FROM hashed
"""


@query("q_cdc_checksum", oracle=CHECKSUM_SQL)
def q_cdc_checksum(spark, sf_dir):
    """Order-insensitive table checksum of the CDC mirror — the
    replica-verification primitive (pt-table-checksum's model): each
    row hashes to a 24-bit value off md5 of its canonicalized columns,
    and the table fingerprint is (count, SUM of hashes, XOR of
    hashes). Both aggregates are COMMUTATIVE MONOIDS, so the
    fingerprint is independent of row order and partitioning and
    merges across partitions/replicas for free — comparing source and
    mirror costs one scan each side and ships 3 numbers, the only
    feasible equality check between 100 TB replicas.

    Canonicalization pins the float column through DECIMAL(18,2) text
    (engine-stable rendering) and gives NULLs an explicit token, so
    Spark and DuckDB hash identical bytes. 6 hex nibbles -> 24-bit hv
    keeps the SUM well inside BIGINT at any row count."""
    mirror = compact_latest(changelog(spark, sf_dir), ["k"]).filter(
        F.col("op") != "d"
    ).select("k", "name", "bal")
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("k").cast("string"),
            F.coalesce(F.col("name"), F.lit("<null>")),
            F.coalesce(F.col("bal").cast("decimal(18,2)").cast("string"), F.lit("<null>")),
        )
    )
    hv = F.conv(F.substring(h, 1, 6), 16, 10).cast("long")
    return mirror.select(hv.alias("hv")).agg(
        F.count("*").alias("n_rows"),
        F.sum("hv").alias("checksum_sum"),
        F.expr("bit_xor(hv)").cast("long").alias("checksum_xor"),
    )


# --- keyed snapshot changefeed (staged r6, registered r7).
# NULL-SAFE join and marker-based presence, mirroring diff.py's
# table_changes exactly (key nullability must never classify a
# NULL-keyed unchanged row as c+d).
CHANGEFEED_SQL = f"""
    WITH changes AS ({CHANGELOG_SQL}),
    new_m AS (SELECT *, TRUE AS _in_n FROM ({mirror_cte('SELECT * FROM changes')})),
    old_m AS (SELECT k, name, bal, TRUE AS _in_o FROM changes WHERE op = 'r')
    SELECT
        CASE WHEN o._in_o IS NULL THEN 'c'
             WHEN n._in_n IS NULL THEN 'd'
             ELSE 'u' END AS op,
        COALESCE(n.k, o.k) AS k,
        o.name AS before_name, o.bal AS before_bal,
        n.name AS after_name, n.bal AS after_bal
    FROM old_m o FULL OUTER JOIN new_m n ON n.k IS NOT DISTINCT FROM o.k
    WHERE o._in_o IS NULL OR n._in_n IS NULL
       OR o.name IS DISTINCT FROM n.name
       OR o.bal IS DISTINCT FROM n.bal
"""


@query("q_cdc_changefeed", oracle=CHANGEFEED_SQL)
def q_cdc_changefeed(spark, sf_dir):
    """Delta-CDF-shaped changefeed over the changelog fixture: diff
    the initial snapshot (op='r' images) against the fully-applied
    mirror into c/u/d events with before/after images — the change
    set a downstream consumer replays to catch up, derived from state
    (Iceberg changelog-view semantics) instead of captured from a log.
    The diff itself is ``cdc.diff.table_changes(images="both")`` (one
    definition, null-safe keys, property-tested round-trip law); the
    mirror is the canonical ``compact_latest`` primitive. Oracle =
    CHANGEFEED_SQL."""
    from .diff import table_changes

    ch = changelog(spark, sf_dir)
    old = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    new = compact_latest(ch, ["k"]).filter(F.col("op") != "d").select(
        "k", "name", "bal"
    )
    return table_changes(old, new, ["k"], images="both").select(
        "op",
        "k",
        "before_name",
        "before_bal",
        F.col("name").alias("after_name"),
        F.col("bal").alias("after_bal"),
    )


@query("q_cdc_compact_files", oracle=APPLY_SCALE_MIRROR_SQL)
def q_cdc_compact_files(spark, sf_dir):
    """Small-file compaction as a registered maintenance rung — the
    Iceberg ``rewrite_data_files`` bin-pack (`pom.xml:15` pins Iceberg
    1.9.2, whose maintenance actions a long-running CDC mirror
    schedules; `connect-iceberg-sink.json:17`'s 10 s commit cadence is
    WHY: every commit adds data files). Composition, both real growth
    patterns in one run:

    1. snapshot ingest WITHOUT the bucket-clustering shuffle
       (``init(writers=8)``) — the cheap parallel load that leaves ~8
       files in every bucket dir, exactly what a 1000-task snapshot
       copy produces at 100 TB;
    2. one partition-scoped CDC apply (the q_cdc_apply_bucketed
       batch, past the fold threshold, so it folds straight into the
       base) — touched buckets rewrite, untouched buckets keep their
       ingest fragmentation;
    3. ``BucketedMirror.compact()`` — folds a pending delta first
       (none is left here), then rewrites ONLY the still-fragmented
       leaves, one file each, in one Spark job, swapped in by
       directory rename (compacted leaves are not read).

    Laws asserted in-query: the table ends at ≤ 1 file per non-empty
    bucket with the total file count at most half the post-ingest
    count, and a second compact() finds nothing (idempotent). The
    registered oracle is the SAME latest-wins relation as
    q_cdc_apply_scale/_bucketed, so the driver hash check proves
    compaction is content-invisible end to end: fragment, merge,
    bin-pack — byte-identical read. Before/after collect equality and
    the file-count ledger are additionally pinned in
    tests/test_r15_ops.py."""
    from .bucketed import BucketedMirror

    li, changes = _scale_mirror_and_changes(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_compact_"), "mirror")
    m = BucketedMirror(spark, path, keys=["l_orderkey", "l_linenumber"],
                       n_buckets=16)
    _, batch = overlap(spark, lambda: m.init(li, 8),
                       lambda: m.prepare(changes))
    with batch:
        ingest_files = sum(len(fs) for fs in m.partition_files().values())
        m.apply(batch)
    m.compact()
    after = m.partition_files()
    n_after = sum(len(fs) for fs in after.values())
    assert all(len(fs) <= 1 for fs in after.values()), "leaf not bin-packed"
    assert n_after * 2 <= ingest_files, (
        f"compaction must at least halve the ingest file count "
        f"({ingest_files} -> {n_after})"
    )
    assert m.compact() == {}, "second pass must be a no-op"
    return m.read()


@query("q_cdc_wap_publish", oracle=APPLY_SCALE_MIRROR_SQL)
def q_cdc_wap_publish(spark, sf_dir):
    """Write-audit-publish over the branched snapshot ledger
    (cdc/branches.py) — the Iceberg-branch production pattern
    (`spark.wap.branch`; `pom.xml:15` Iceberg 1.9.2) for a CDC sink
    whose consumers must never observe unaudited data:

    1. the apply-gate batch commits to branch ``audit_good``;
       ``wap_audit`` (null-key integrity + touched-key uniqueness over
       the BRANCH state — the invariant a latest-wins merge actually
       guarantees on a fixture whose base table has no unique PK)
       passes → publish = fast-forward main (pointer move, no data
       rewritten);
    2. a POISONED batch (null-PK inserts — a malformed envelope class
       that slips past decode) commits to branch ``audit_bad`` — a
       SECOND writer running CONCURRENTLY with leg 1 (both audit
       branches are cut from the same base and the legs share no
       state; branch isolation means neither leg observes the other);
       the audit catches it → the branch is dropped; main's ref is
       asserted to land exactly on the audited publish, byte-untouched
       by the failed writer.

    The registered oracle is the same latest-wins relation as
    q_cdc_apply_scale, so the driver hash check proves BOTH halves:
    publish published exactly the audited apply, and the failed batch
    never leaked into main. Branch isolation, branch-aware expiry, and
    the dup-key audit arm are law-tested in tests/test_r15_ops.py.

    Sibling: q_cdc_wap (above) is the AUDIT-REPORT half of the same
    workflow — the declarative rule table over a staged view; this
    rung is the COMMIT-MECHANICS half (refs, isolation, pointer-swap
    publish, reclaim-on-drop). Together they cover Iceberg WAP
    end to end."""
    from .branches import BranchedMirror, wap_audit

    li, changes = _scale_mirror_and_changes(spark, sf_dir)
    keys = ["l_orderkey", "l_linenumber"]
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_wap_"), "mirror")
    m = BranchedMirror(spark, path, keys=keys, n_buckets=16)

    bad = li.limit(50).select(
        F.col("l_orderkey"),
        F.lit(None).cast(dict(li.dtypes)["l_linenumber"]).alias("l_linenumber"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        F.lit("c").alias("op"),
        F.lit(9000).cast("long").alias("ts_ms"),
        (F.col("l_orderkey") * 10 + F.lit(3_000_000_000)).cast("long").alias("off"),
    )

    # Both batches' compactions read only their change relations, so
    # they overlap the init write. Both audit branches are cut from the
    # same base and the two legs share no refs or data dirs, so they
    # overlap too; the published content is that of the serial flow.
    _, good, poisoned = overlap(spark, lambda: m.init(li),
                                lambda: m.prepare(changes),
                                lambda: m.prepare(bad))
    with good, poisoned:
        m.branch_create("audit_good")
        m.branch_create("audit_bad")

        def good_leg() -> int:
            m.apply_to_branch("audit_good", good)
            audit = wap_audit(m.read_ref("audit_good").drop("__bucket"),
                              keys, batch_keys=changes)
            assert audit == {"null_keys": 0, "dup_keys": 0}, audit
            m.fast_forward("main", "audit_good")
            m.drop_branch("audit_good")
            return m.get_ref("main")

        def bad_leg() -> None:
            m.apply_to_branch("audit_bad", poisoned)
            audit = wap_audit(m.read_ref("audit_bad").drop("__bucket"), keys)
            assert audit["null_keys"] > 0, (
                "audit must catch the poisoned batch")
            m.drop_branch("audit_bad")

        published, _ = overlap(spark, good_leg, bad_leg)
    assert m.get_ref("main") == published, "failed WAP leaked into main"

    return m.read_ref("main").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


WAP_RACE_CHANGES_B_SQL = """
    SELECT l_orderkey, l_linenumber,
           l_quantity * 2.0 AS l_quantity, l_extendedprice,
           'u' AS op, CAST(5000 AS BIGINT) AS ts_ms,
           4000000000 + l_orderkey * 10 + l_linenumber AS off
    FROM lineitem WHERE l_orderkey % 9 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, NULL, NULL,
           'd', 6000, 5000000000 + l_orderkey * 10 + l_linenumber
    FROM lineitem WHERE l_orderkey % 14 = 0
"""

# Sequential two-batch apply == ONE latest-wins pass over A ∪ B because
# batch B's (ts_ms, off) stamps are strictly newer than batch A's on
# every overlapping key — the same reason a CDC log replays to the same
# table whatever the batch boundaries (cdc/apply.py's upsert
# semantics: 'u' on a deleted key re-inserts, 'd' on a missing key is
# a no-op, in both engines).
WAP_RACE_MIRROR_SQL = f"""
        WITH mirror AS (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
        ),
        changes AS ({APPLY_SCALE_CHANGES_SQL}
                    UNION ALL
                    {WAP_RACE_CHANGES_B_SQL}),
        latest AS (
            SELECT *, row_number() OVER (
                PARTITION BY l_orderkey, l_linenumber
                ORDER BY ts_ms DESC, off DESC) AS rn
            FROM changes
        ),
        fc AS (SELECT * FROM latest WHERE rn = 1)
        SELECT m.l_orderkey, m.l_linenumber, m.l_quantity, m.l_extendedprice
        FROM mirror m ANTI JOIN fc USING (l_orderkey, l_linenumber)
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM fc WHERE op <> 'd'
"""


def _wap_race_batch_b(li):
    """The second writer's batch: ~x2 quantity updates on l_orderkey
    % 9 and deletes on % 14, stamped STRICTLY newer than batch A so the
    sequential-apply oracle collapses to one latest-wins pass (comment
    on WAP_RACE_MIRROR_SQL)."""
    upd = li.filter(F.col("l_orderkey") % 9 == 0).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        "l_linenumber",
        (F.col("l_quantity") * 2.0).cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        F.lit("u").alias("op"),
        F.lit(5000).cast("long").alias("ts_ms"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")
         + F.lit(4_000_000_000)).cast("long").alias("off"),
    )
    dels = li.filter(F.col("l_orderkey") % 14 == 0).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        "l_linenumber",
        F.lit(None).cast("double").alias("l_quantity"),
        F.lit(None).cast("double").alias("l_extendedprice"),
        F.lit("d").alias("op"),
        F.lit(6000).cast("long").alias("ts_ms"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")
         + F.lit(5_000_000_000)).cast("long").alias("off"),
    )
    return upd.unionByName(dels)


@query("q_cdc_wap_race", oracle=WAP_RACE_MIRROR_SQL)
def q_cdc_wap_race(spark, sf_dir):
    """TWO audit branches racing off ONE base — the concurrency half of
    WAP that q_cdc_wap_publish's single-writer flow never exercises,
    and the registered proof of the r15 commit protocol + r16 lineage
    guards (cdc/versioned.py exclusive-create commits with recorded
    parents; cdc/branches.py ancestry-checked fast_forward, ref CAS):

    1. branches ``race_a`` and ``race_b`` are cut from the same main
       head and each commits its batch — version allocation under the
       race is collision-safe (distinct snapshots, disjoint data dirs,
       both parents = the shared base);
    2. both audits pass; ``race_a`` publishes first (fast-forward);
    3. ``race_b``'s publish is REFUSED — main's new head is not on
       race_b's lineage, so fast-forwarding would silently REWIND
       main over batch A (the lost update Iceberg's fast_forward
       refuses); main is asserted unmoved by the refusal;
    4. the loser retries as a CHERRY-PICK (Iceberg's
       cherrypick_snapshot analogue): its batch re-applies on the new
       main head via a fresh branch, audits, and publishes.

    The registered oracle is the SEQUENTIAL two-batch apply, so the
    driver hash check proves race → refusal → retry lands on exactly
    the state a serial writer would have produced. At 100 TB the race
    costs what the batches cost — refusal and publish are pointer
    reads/moves on the manifest lineage, no data moves.
    Reference parity: `connect-iceberg-sink.json:15-16` (Iceberg sink
    commits); Iceberg 1.9.2 `fast_forward`/`cherrypick_snapshot`
    procedures (`pom.xml:15`)."""
    from .branches import BranchedMirror, wap_audit

    li, batch_a = _scale_mirror_and_changes(spark, sf_dir)
    batch_b = _wap_race_batch_b(li)
    keys = ["l_orderkey", "l_linenumber"]
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_wap_race_"), "mirror")
    m = BranchedMirror(spark, path, keys=keys, n_buckets=16)

    # The two branch writers ARE concurrent — that is the scenario
    # this rung registers. The commit protocol is collision-safe by
    # design (exclusive-create manifests, uniquified data dirs, per-ref
    # CAS), and the published content is version-number-independent
    # (the oracle hashes the final read). Both batches' compactions
    # read only their change relations, so they overlap the init write.
    _, prep_a, prep_b = overlap(spark, lambda: m.init(li),
                                lambda: m.prepare(batch_a),
                                lambda: m.prepare(batch_b))
    with prep_a, prep_b:
        m.branch_create("race_a")
        m.branch_create("race_b")
        overlap(spark, lambda: m.apply_to_branch("race_a", prep_a),
                lambda: m.apply_to_branch("race_b", prep_b))  # the race
    audits = overlap(
        spark,
        lambda: wap_audit(m.read_ref("race_a").drop("__bucket"), keys,
                          batch_a),
        lambda: wap_audit(m.read_ref("race_b").drop("__bucket"), keys,
                          batch_b))
    assert audits == [{"null_keys": 0, "dup_keys": 0}] * 2, audits

    m.fast_forward("main", "race_a")
    published = m.get_ref("main")
    try:
        m.fast_forward("main", "race_b")
        raise AssertionError("diverged publish must be refused")
    except ValueError:
        pass
    assert m.get_ref("main") == published, "refused publish moved main"
    m.drop_branch("race_b")

    m.branch_create("race_pick")  # cherry-pick: re-apply B on new head
    # Batch B is prepared again inside this apply: a handle prepared up
    # front would share the race leg's cache entry, which that leg's
    # apply released.
    m.apply_to_branch("race_pick", batch_b)
    audit = wap_audit(m.read_ref("race_pick").drop("__bucket"), keys,
                      batch_keys=batch_b)
    assert audit == {"null_keys": 0, "dup_keys": 0}, audit
    m.fast_forward("main", "race_pick")
    m.drop_branch("race_a")
    m.drop_branch("race_pick")
    return m.read_ref("main").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query("q_cdc_expire_branch", oracle=WAP_RACE_MIRROR_SQL)
def q_cdc_expire_branch(spark, sf_dir):
    """Snapshot expiry racing a WAP publish — the registered proof
    that routine maintenance is CONTENT-INVISIBLE to the branch
    workflow (Iceberg's ``expire_snapshots`` run between an audit
    branch's commits and its publish; the r16 lineage-tombstone
    machinery in cdc/versioned.py ``expire``/``is_ancestor``):

    1. branch ``audit`` is cut from main and commits batch A then
       batch B (two snapshots of audit history, v1 and v2);
    2. ``expire(keep_last=1)`` runs as a maintenance process would:
       the INTERMEDIATE branch commit v1 dies — its data dirs are
       reclaimed (asserted: no longer readable, refuses with the
       documented error) while ref heads (main's base v0, audit's
       head v2) stay protected;
    3. the publish still works: v1's lineage TOMBSTONE keeps the
       parent chain walkable, so ``fast_forward("main", "audit")``'s
       ancestry check crosses the expired version and main lands on
       v2 — a vacuum can never wedge a legitimate publish.

    The registered oracle is the SEQUENTIAL two-batch apply
    (WAP_RACE_MIRROR_SQL — batch B's stamps are strictly newer), so
    the driver hash check proves the post-expire published state is
    byte-identical to what an unexpired ledger publishes: expiry
    reclaimed only storage, never content. At 100 TB expire() is
    manifest arithmetic plus deletes of unreferenced dirs — no data
    moves, no table scan. Sibling rungs: q_cdc_expire_snapshots is
    the plain linear-history expiry; q_cdc_wap_race is the
    concurrent-writer half of the same commit protocol.
    Reference parity: Iceberg 1.9.2 ``expire_snapshots`` /
    ``fast_forward`` procedures (`pom.xml:15`); the sink's 10 s
    commit cadence (`connect-iceberg-sink.json:17`) is why expiry is
    a standing maintenance job."""
    from .branches import BranchedMirror

    li, batch_a = _scale_mirror_and_changes(spark, sf_dir)
    batch_b = _wap_race_batch_b(li)
    keys = ["l_orderkey", "l_linenumber"]
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_expire_br_"), "mirror")
    m = BranchedMirror(spark, path, keys=keys, n_buckets=16)
    # The two branch commits are sequential (one branch, chained
    # heads), but their batch compactions read only the change
    # relations, so both overlap the init write.
    v0, prep_a, prep_b = overlap(spark, lambda: m.init(li),
                                 lambda: m.prepare(batch_a),
                                 lambda: m.prepare(batch_b))
    with prep_a, prep_b:
        m.branch_create("audit")
        v1 = m.apply_to_branch("audit", prep_a)
        v2 = m.apply_to_branch("audit", prep_b)

    dead = m.expire(keep_last=1)
    assert v1 in dead, f"intermediate branch commit must expire: {dead}"
    assert v1 not in m.versions(), "tombstone must not read as live"
    try:
        m.read(v1)
        raise AssertionError("expired snapshot must refuse reads")
    except ValueError:
        pass
    assert m.is_ancestor(v0, v2), "lineage must survive the tombstone"

    m.fast_forward("main", "audit")
    assert m.get_ref("main") == v2, "publish must land on the branch head"
    m.drop_branch("audit")
    return m.read_ref("main").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --- r18 rung: partition-spec evolution (cdc/specs.py) --------------------
#
# REGISTERED r18 (staged r17): the r18 window's second free slot, the
# one-decorator flip on the r17-staged function (cross-engine equality
# law-tested BEFORE registration:
# tests/test_r17_ops.py::test_evolve_spec_staged_rung_matches_oracle),
# the same convert-registration-into-a-decorator pattern that made
# q_sim_ivf_pq's r17 landing risk-free. This is the last Iceberg
# v2-metadata behavior (`pom.xml:15`) gaining a registered row.

@query("q_cdc_evolve_spec", oracle=WAP_RACE_MIRROR_SQL)
def cdc_evolve_spec_query(spark, sf_dir):
    """Partition-spec evolution under live CDC traffic — the last
    Iceberg v2-metadata behavior (`pom.xml:15`) without a registered
    rung: a mirror outgrows its bucket count MID-STREAM and the spec
    change costs zero data movement while content stays byte-identical
    to a fixed-layout apply (the registered oracle is the sequential
    two-batch apply, WAP_RACE_MIRROR_SQL):

    1. init under an 8-bucket spec; batch A applies under it;
    2. ``evolve_spec(12)`` is REFUSED (specs grow by integer multiples
       only — the modular-containment guarantee that keeps every later
       apply touched-only); main asserted unmoved by the refusal;
    3. ``evolve_spec(16)`` commits METADATA-ONLY: every data entry
       carries verbatim (asserted), the census still reads all-8;
    4. batch B applies under the NEW spec — touched old-spec entries
       drain to 16-bucket children (lazy migration), untouched ones
       carry their files;
    5. ``migrate()`` finishes the drain in one maintenance commit
       (Iceberg's rewrite_data_files closing out a spec change); the
       census reads all-16 and the returned relation is the mirror.

    At 100 TB: evolve is one manifest write; each apply rewrites only
    the touched slice; migrate touches only the stragglers. Reference
    parity: `connect-iceberg-sink.json:15-16` (Iceberg sink table),
    Iceberg 1.9.2 spec-evolution semantics."""
    from .specs import SpecEvolvingMirror

    li, batch_a = _scale_mirror_and_changes(spark, sf_dir)
    batch_b = _wap_race_batch_b(li)
    keys = ["l_orderkey", "l_linenumber"]
    path = os.path.join(tempfile.mkdtemp(prefix="cdc_evolve_spec_"),
                        "mirror")
    m = SpecEvolvingMirror(spark, path, keys=keys, n_buckets=8)
    # Both batches' compactions are spec-independent (the touched
    # sets derive per spec inside the merge), so they overlap the init
    # write.
    _, prep_a, prep_b = overlap(spark, lambda: m.init(li),
                                lambda: m.prepare(batch_a),
                                lambda: m.prepare(batch_b))
    with prep_b:
        m.apply(prep_a)
        head = m.current_version()
        try:
            m.evolve_spec(12)
            raise AssertionError("non-multiple spec must be refused")
        except ValueError:
            pass
        assert m.current_version() == head, "refused evolve moved the head"

        before = dict(m._entries(m._load_manifest(head)))
        m.evolve_spec(16)
        after = dict(m._entries(m._load_manifest(m.current_version())))
        assert after == before, "evolve must move zero data"
        assert set(m.spec_census()) == {8}, "evolve migrates nothing"

        m.apply(prep_b)  # lazy migration, new spec
    assert set(m.spec_census()) <= {8, 16}, m.spec_census()
    m.migrate()
    assert set(m.spec_census()) == {16}, "migrate must finish the drain"
    return m.read().select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
