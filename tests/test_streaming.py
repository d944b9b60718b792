"""Real Structured Streaming tests: the file-source CDC pipeline with
foreachBatch merge (trigger semantics of `connect-iceberg-sink.json:17`),
streaming windowed aggregation with watermark, and the progress
listener (heartbeat parity, `connect-sqlserver-source.json:13`).
"""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.cdc.apply import compact_latest, mirror_diff
from proof_of_concept___cdc_w_iceberg_spark.cdc.bucketed import bucket_expr
from proof_of_concept___cdc_w_iceberg_spark.cdc.envelope import encode_envelope
from proof_of_concept___cdc_w_iceberg_spark.sources.cdc_fixtures import changelog
from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load
from proof_of_concept___cdc_w_iceberg_spark.streaming.pipeline import (
    StreamingCdcPipeline,
)
from proof_of_concept___cdc_w_iceberg_spark.streaming.routing import (
    RoutedStreamingCdcPipeline,
)

EVENTS = "k long, name string, bal double, op string, ts_ms long, off long"
ACCOUNT, PRODUCT = "cdc.commerce_account", "cdc.commerce_product"


def test_streaming_cdc_apply_matches_batch(spark, sf_dir):
    """Changelog fed as 3 envelope files through a real streaming query
    == one-shot batch apply."""
    ch = changelog(spark, sf_dir)
    snapshot = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    pipe = StreamingCdcPipeline(spark)
    pipe.init_mirror(snapshot)
    stream_part = ch.filter(F.col("op") != "r")
    for i, (lo, hi) in enumerate([(2000, 2500), (2501, 3000), (3001, 10_000)]):
        batch = stream_part.filter(F.col("ts_ms").between(lo, hi))
        pipe.feed(encode_envelope(batch), f"b{i}")
    q = pipe.start(trigger_once=True)
    q.awaitTermination(300)

    expected = (
        compact_latest(ch, ["k"]).filter(F.col("op") != "d").select("k", "name", "bal")
    )
    assert mirror_diff(pipe.mirror(), expected).count() == 0
    assert pipe.batches_applied >= 1


def test_streaming_dedup_idempotent_replay(spark, sf_dir):
    """Replaying the same envelope file must not change the mirror
    (offset-dedup inside the batch + latest-wins across batches)."""
    ch = changelog(spark, sf_dir)
    snapshot = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    stream_part = ch.filter(F.col("op") != "r")
    pipe = StreamingCdcPipeline(spark)
    pipe.init_mirror(snapshot)
    pipe.feed(encode_envelope(stream_part), "b0")
    pipe.feed(encode_envelope(stream_part), "b0_replay")  # duplicate delivery
    q = pipe.start(trigger_once=True)
    q.awaitTermination(300)
    expected = (
        compact_latest(ch, ["k"]).filter(F.col("op") != "d").select("k", "name", "bal")
    )
    assert mirror_diff(pipe.mirror(), expected).count() == 0


def test_streaming_tumbling_window_with_watermark(spark, sf_dir):
    """The q_stream_tumbling aggregation under a real readStream with
    withWatermark — results equal the batch twin."""
    events = load(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="stream_events_")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "24 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM tumbling_test")
    expected = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """session_window under a real readStream with watermark — final
    sessions equal the batch computation (stateful window merging)."""
    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    src = tempfile.mkdtemp(prefix="stream_sess_")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "24 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM session_test")
    expected = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_progress_listener_heartbeat(spark, sf_dir):
    """StreamingQueryListener receives progress events — the liveness
    signal parity (1 s heartbeat in the reference)."""
    from pyspark.sql.streaming import StreamingQueryListener

    beats: list[str] = []

    class Beat(StreamingQueryListener):
        def onQueryStarted(self, event):
            beats.append("started")

        def onQueryProgress(self, event):
            beats.append("progress")

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            beats.append("terminated")

    spark.streams.addListener(Beat())
    events = load(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="stream_hb_")
    events.limit(100).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream.groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("hb_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # listener events are delivered asynchronously
    for _ in range(50):
        if "started" in beats and "terminated" in beats:
            break
        time.sleep(0.2)
    assert "started" in beats
    assert "terminated" in beats


def test_evolving_apply_widens_mirror_schema(spark):
    """The reference sink's auto-evolve loop: a batch arriving with a
    NEW column (per-record schema) widens the mirror without restart;
    old rows surface NULL, changed rows carry the value."""
    import json as _json
    import tempfile as _tf

    from proof_of_concept___cdc_w_iceberg_spark.streaming.evolving import (
        apply_evolving,
    )

    mirror = _tf.mkdtemp(prefix="evolve_mirror_")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    ).write.mode("overwrite").parquet(mirror)

    def wire(fields, after, op, ts, lsn):
        schema = {"type": "struct", "optional": False, "name": "commerce.account.Value",
                  "fields": fields}
        payload = {"before": None, "after": after,
                   "source": {"db": "d", "schema": "commerce", "table": "account",
                              "lsn": lsn, "ts_ms": ts, "snapshot": "false"},
                   "op": op, "ts_ms": ts}
        return _json.dumps({"schema": schema, "payload": payload})

    v1 = [{"type": "int64", "optional": True, "field": "k"},
          {"type": "string", "optional": True, "field": "name"},
          {"type": "float64", "optional": True, "field": "bal"}]
    v2 = v1 + [{"type": "string", "optional": True, "field": "status"}]

    b1 = spark.createDataFrame(
        [(wire(v1, {"k": 1, "name": "a2", "bal": 11.0}, "u", 2000, 1),)], "value string"
    )
    apply_evolving(spark, mirror, b1, keys=["k"])

    b2 = spark.createDataFrame(
        [
            (wire(v2, {"k": 10, "name": "j", "bal": 99.0, "status": "new"}, "c", 3000, 2),),
            (wire(v2, {"k": 2, "name": "b2", "bal": 21.0, "status": "upd"}, "u", 3000, 3),),
            (wire(v2, {"k": 3, "name": None, "bal": None, "status": None}, "d", 3000, 4),),
        ],
        "value string",
    )
    apply_evolving(spark, mirror, b2, keys=["k"])

    final = spark.read.parquet(mirror)
    assert set(final.columns) == {"k", "name", "bal", "status"}
    rows = {r["k"]: (r["name"], r["bal"], r["status"]) for r in final.collect()}
    assert rows == {
        1: ("a2", 11.0, None),     # updated pre-evolution, NULL backfill
        2: ("b2", 21.0, "upd"),    # updated with the new column
        10: ("j", 99.0, "new"),    # inserted with the new column
    }                               # 3 deleted


def test_routed_pipeline_fans_out_to_two_mirrors(spark, sf_dir):
    """The reference's full topology: one stream of mixed account +
    product envelopes, routed by _cdc.target to two auto-created
    mirrors, each upserted independently."""
    ch = changelog(spark, sf_dir)
    account = encode_envelope(ch, schema_name="commerce", table="account")
    # product stream: same change shapes, shifted keys, other table
    product = encode_envelope(
        ch.withColumn("k", F.col("k") + 500_000), schema_name="commerce",
        table="product",
    )
    pipe = RoutedStreamingCdcPipeline(
        spark,
        keys_by_target={
            "cdc.commerce_account": ["k"],
            "cdc.commerce_product": ["k"],
        },
    )
    pipe.feed(account.unionByName(product), "mixed")
    q = pipe.start()
    q.awaitTermination(300)

    expected = (
        compact_latest(ch, ["k"]).filter(F.col("op") != "d").select("k", "name", "bal")
    )
    acc = pipe.mirror("cdc.commerce_account")
    prod = pipe.mirror("cdc.commerce_product")
    assert mirror_diff(acc, expected).count() == 0
    assert mirror_diff(
        prod, expected.withColumn("k", F.col("k") + 500_000)
    ).count() == 0
    # routing isolation: no key bleed between tables
    assert acc.join(prod, "k", "inner").count() == 0


def _latest(*batches):
    """Latest-wins mirror rows ``(k, name, bal)``, sorted, of the
    change rows in ``batches``."""
    state = {}
    for k, name, bal, op, _, _ in sorted(
            (r for b in batches for r in b), key=lambda r: (r[4], r[5])):
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = (k, name, bal)
    return sorted(state.values())


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _run(pipe):
    assert pipe.start().awaitTermination(300), "stream did not finish"


def _events(spark, rows, table="account"):
    return encode_envelope(spark.createDataFrame(rows, EVENTS), table=table)


def test_routed_pipeline_dead_letters_and_restart(spark, tmp_path):
    """One routed micro-batch mixing two declared targets, an
    undeclared target, an unparseable line and an op-less envelope for
    an existing key: the op-less key stays in its mirror, the DLQ holds
    exactly the raw bad and unrouted records (a replay does not grow
    it), each mirror equals a latest-wins rebuild of its good records,
    and a declared target with no records reads as an empty frame of
    its row schema. A new pipeline on the same workdir opens those
    mirrors: its first batch adds to them instead of re-creating them
    empty."""
    idle = "cdc.commerce_idle"
    declared = {ACCOUNT: ["k"], PRODUCT: ["k"], idle: ["k"]}
    workdir = str(tmp_path / "pipe")
    pipe = RoutedStreamingCdcPipeline(spark, declared, workdir=workdir)
    acc0 = [(1, "a", 1.0, "c", 1000, 1), (2, "b", 1.0, "c", 1000, 2)]
    pipe.feed(_events(spark, acc0), "b0")
    _run(pipe)

    acc1 = [(2, "b2", 2.0, "u", 2000, 3), (3, "c", 1.0, "c", 2000, 4)]
    prod1 = [(10, "p", 5.0, "c", 2000, 5), (11, "q", 6.0, "c", 2000, 6),
             (10, None, None, "d", 2100, 7)]
    opless = ('{"after":{"k":1,"name":"z","bal":9.0},"source":{"schema":'
              '"commerce","table":"account","lsn":8,"ts_ms":2000},'
              '"ts_ms":2000}')
    bad = (spark.createDataFrame([(1, opless), (99, "{not json")],
                                 "key long, value string")
           .unionByName(_events(spark, [(20, "g", 1.0, "c", 2000, 9)],
                                table="ghost")))
    pipe.feed(_events(spark, acc1)
              .unionByName(_events(spark, prod1, table="product"))
              .unionByName(bad), "b1")
    _run(pipe)

    dead = _rows(bad)
    assert _rows(pipe.dead_letters()) == [(*r, 1) for r in dead]
    assert _rows(pipe.mirror(ACCOUNT)) == _latest(acc0, acc1)
    assert _rows(pipe.mirror(PRODUCT)) == _latest(prod1)
    empty = pipe.mirror(idle)
    assert empty.schema.simpleString() == \
        "struct<k:bigint,name:string,bal:double>"
    assert empty.collect() == []

    # foreachBatch is at-least-once: a replay of batch 1 neither grows
    # the DLQ nor changes a mirror.
    raw = spark.read.schema("key long, value string").json(
        os.path.join(pipe.input_dir, "b1.json"))
    pipe._apply_batch(raw, 1)
    assert _rows(pipe.dead_letters()) == [(*r, 1) for r in dead]
    assert _rows(pipe.mirror(ACCOUNT)) == _latest(acc0, acc1)
    assert _rows(pipe.mirror(PRODUCT)) == _latest(prod1)

    again = RoutedStreamingCdcPipeline(spark, declared, workdir=workdir)
    assert _rows(again.mirror(ACCOUNT)) == _latest(acc0, acc1)
    acc2 = [(4, "d", 1.0, "c", 3000, 10), (1, "a2", 2.0, "u", 3000, 11)]
    again.feed(_events(spark, acc2), "b2")
    _run(again)
    assert _rows(again.mirror(ACCOUNT)) == _latest(acc0, acc1, acc2)
    assert _rows(again.mirror(PRODUCT)) == _latest(prod1)


@pytest.mark.parametrize("routed", [False, True], ids=["single", "routed"])
def test_malformed_batch_commits_onto_pending_delta(spark, tmp_path, routed):
    """A streamed micro-batch with malformed records, committed while
    the mirror has a pending delta, finishes: the batch stays on the
    left of the (batch ∪ delta) union, so the write runs in the
    foreachBatch session where the commit step's malformed-count
    observe is registered (with the delta on the left the observation
    never completes and the stream hangs). The DLQ holds the bad
    records and the mirror the good ones."""
    base = [(k, f"n{k}", 1.0, "c", 1000, k) for k in range(200)]
    delta = [(1, "d1", 2.0, "u", 2000, 1001)]
    if routed:
        pipe = RoutedStreamingCdcPipeline(spark, {ACCOUNT: ["k"]},
                                          workdir=str(tmp_path / "pipe"))
        pipe.feed(_events(spark, base), "b0")
        read = lambda: pipe.mirror(ACCOUNT)  # noqa: E731
        mirror = lambda: pipe.mirrors[ACCOUNT]  # noqa: E731
    else:
        pipe = StreamingCdcPipeline(spark, workdir=str(tmp_path / "pipe"),
                                    n_buckets=8)
        pipe.init_mirror(spark.createDataFrame(base, EVENTS)
                         .select("k", "name", "bal"))
        read, mirror = pipe.mirror, lambda: pipe._mirror
    pipe.feed(_events(spark, delta), "b1")
    _run(pipe)
    assert mirror().delta_rows > 0

    good = [(2, "g2", 3.0, "u", 3000, 2002), (3, None, None, "d", 3000, 2003)]
    bad = spark.createDataFrame([(98, "{not json"), (99, '{"ts_ms":1}')],
                                "key long, value string")
    pipe.feed(_events(spark, good).unionByName(bad), "b2")
    q = pipe.start()
    try:
        assert q.awaitTermination(120), "the malformed batch never committed"
    finally:
        q.stop()
    assert _rows(pipe.dead_letters().select("key", "value")) == _rows(bad)
    assert _rows(read()) == _latest(base, delta, good)


def test_kafka_gate_reports_cleanly(spark):
    """No Kafka connector in this container: the gate must say so with
    an actionable error, not a Py4J stack."""
    import pytest

    from proof_of_concept___cdc_w_iceberg_spark.streaming.pipeline import (
        kafka_available,
        kafka_changelog_stream,
    )

    assert kafka_available(spark) is False
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_changelog_stream(spark, "localhost:9092")


def test_streaming_static_join_matches_batch(spark, sf_dir):
    """q_stream_join's semantics under a real readStream: the static
    dim side joins against each micro-batch — final aggregate equals
    the batch twin."""
    events = load(spark, sf_dir, "events")
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    src = tempfile.mkdtemp(prefix="stream_join_")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = (
        stream.join(F.broadcast(dim), stream.user_id + 1 == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_join_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM stream_join_test")
    expected = (
        events.join(F.broadcast(dim), events.user_id + 1 == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """q_stream_stream_join's live form: two readStream sources with
    watermarks, joined on user_id + a 10-minute event-time range (the
    condition shape that lets Spark expire join state), append mode.
    The joined pairs must equal the batch theta-join's pairs."""
    events = load(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="ss_join_")
    events.write.mode("overwrite").parquet(src)

    def sides(df_source):
        clicks = (
            df_source.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("c_ts"),
            )
        )
        views = df_source.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        return clicks, views

    s1 = spark.readStream.schema(events.schema).parquet(src)
    s2 = spark.readStream.schema(events.schema).parquet(src)
    sc, sv = sides(s1.withWatermark("ts", "30 minutes"))
    sv = sides(s2.withWatermark("ts", "30 minutes"))[1]
    joined = sc.join(
        sv,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 10 MINUTE")),
        "inner",
    ).select("click_id", "view_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT click_id, view_id FROM ss_join_test")
    bc, bv = sides(events)
    expected = bc.join(
        bv,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 10 MINUTE")),
    ).select("click_id", "view_id")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_streaming_dead_letter_routing(spark, sf_dir):
    """Corrupt envelopes in the stream land raw in the DLQ; good
    records still apply, and the mirror matches the batch apply of the
    good subset — the streaming twin of q_cdc_dead_letter."""
    ch = changelog(spark, sf_dir)
    snapshot = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    stream_part = ch.filter(F.col("op") != "r")
    enveloped = encode_envelope(stream_part)
    # Truncate every 5th key's payload -> guaranteed parse failure.
    corrupted = enveloped.select(
        "key",
        F.when(F.col("key") % 5 == 0, F.substring("value", 1, 8))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    pipe = StreamingCdcPipeline(spark, n_buckets=16)
    pipe.init_mirror(snapshot)
    pipe.feed(corrupted, "b0")
    q = pipe.start(trigger_once=True)
    q.awaitTermination(300)

    n_bad = stream_part.filter(F.col("k") % 5 == 0).count()
    dlq = pipe.dead_letters()
    assert dlq.count() == n_bad
    assert dlq.filter(F.length("value") > 8).count() == 0  # raw bytes kept

    good_stream = stream_part.filter(F.col("k") % 5 != 0)
    expected = (
        compact_latest(
            snapshot.select("k", "name", "bal", F.lit("r").alias("op"),
                            F.lit(1000).cast("long").alias("ts_ms"),
                            F.col("k").alias("off")).unionByName(good_stream),
            ["k"],
        )
        .filter(F.col("op") != "d")
        .select("k", "name", "bal")
    )
    assert mirror_diff(pipe.mirror(), expected).count() == 0

    # foreachBatch is at-least-once: replay the SAME micro-batch id and
    # the DLQ must not grow (batch_id-partitioned dynamic overwrite),
    # and the mirror must be unchanged (latest-wins merge).
    pipe._apply_batch(corrupted, 0)
    assert pipe.dead_letters().count() == n_bad
    assert mirror_diff(pipe.mirror(), expected).count() == 0


def test_streaming_dlq_checkpoint_replay_idempotent(spark, sf_dir):
    """Checkpoint-level replay (round-4 verdict task 6): run the
    stream, crash it AFTER the last micro-batch's offsets were logged
    but BEFORE its commit (simulated by deleting the newest
    ``commits/N`` file — exactly the window a real crash leaves), then
    restart from the checkpoint. Structured Streaming re-executes
    batch N; the DLQ must hold the same dead letters, not duplicates —
    the guarantee the batch_id-partitioned dynamic-overwrite DLQ write
    exists to provide."""
    import os

    ch = changelog(spark, sf_dir)
    snapshot = ch.filter(F.col("op") == "r").select("k", "name", "bal")
    stream_part = ch.filter(F.col("op") != "r")

    def corrupt(df, mod):
        env = encode_envelope(df)
        return env.select(
            "key",
            F.when(F.col("key") % 5 == mod, F.substring("value", 1, 8))
            .otherwise(F.col("value"))
            .alias("value"),
        )

    pipe = StreamingCdcPipeline(spark)
    pipe.init_mirror(snapshot)
    # Two input files -> two micro-batches (maxFilesPerTrigger=1), each
    # carrying both good rows and guaranteed-unparseable rows.
    pipe.feed(corrupt(stream_part.filter(F.col("ts_ms") <= 2500), 0), "b0")
    pipe.feed(corrupt(stream_part.filter(F.col("ts_ms") > 2500), 1), "b1")
    q = pipe.start(trigger_once=True)
    q.awaitTermination(300)

    n_dlq = pipe.dead_letters().count()
    assert n_dlq > 0
    good_stream = stream_part.filter(
        ~(
            ((F.col("k") % 5 == 0) & (F.col("ts_ms") <= 2500))
            | ((F.col("k") % 5 == 1) & (F.col("ts_ms") > 2500))
        )
    )
    expected = (
        compact_latest(
            snapshot.select(
                "k", "name", "bal", F.lit("r").alias("op"),
                F.lit(1000).cast("long").alias("ts_ms"), F.col("k").alias("off"),
            ).unionByName(good_stream),
            ["k"],
        )
        .filter(F.col("op") != "d")
        .select("k", "name", "bal")
    )
    assert mirror_diff(pipe.mirror(), expected).count() == 0
    applied_before = pipe.batches_applied

    # Crash simulation: offsets/N exists, commits/N gone -> on restart
    # the engine replays batch N through _apply_batch with the SAME id.
    commits_dir = os.path.join(pipe.checkpoint, "commits")
    newest = max(f for f in os.listdir(commits_dir) if f.isdigit())
    os.remove(os.path.join(commits_dir, newest))
    # ChecksumFs keeps a .N.crc sibling; a real crash loses both.
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = pipe.start(trigger_once=True)
    q2.awaitTermination(300)
    # The replay really happened (the batch re-applied)...
    assert pipe.batches_applied > applied_before
    # ...and was idempotent: same dead letters, same mirror.
    assert pipe.dead_letters().count() == n_dlq
    assert mirror_diff(pipe.mirror(), expected).count() == 0


def test_stateful_cumsum_topk_matches_batch(spark, sf_dir):
    """The live stateful running-sum operator (applyInPandasWithState,
    one 64-bit micro-unit accumulator per (type, user) key) fed the
    events table as MULTIPLE micro-batches must produce totals
    bit-equal to q_stream_topk's batch decimal sums — the state-merge
    == batch law for the incremental-aggregate operator, independent
    of how the stream was batched."""
    from proof_of_concept___cdc_w_iceberg_spark.registry import queries
    from proof_of_concept___cdc_w_iceberg_spark.streaming.stateful import (
        value_cumsum_stream,
    )

    events = load(spark, sf_dir, "events").select("event_type", "user_id", "ts", "value")
    src = tempfile.mkdtemp(prefix="stream_topk_")
    # Partitioned layout -> several files -> several micro-batches
    # under maxFilesPerTrigger, so state genuinely merges across
    # batches (a user's events span _b partitions only via ts order,
    # but every key appears in exactly one _b — vary the split on
    # event order instead of user so keys DO span batches).
    events.withColumn("_b", (F.unix_timestamp("ts") % 3).cast("int")).write.partitionBy(
        "_b"
    ).mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_type string, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src + "/_b=*")
    )
    out = value_cumsum_stream(stream.select("event_type", "user_id", "value"))
    q = (
        out.writeStream.format("memory")
        .queryName("cumsum_topk_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # update mode re-emits a key each batch it appears in: keep the max
    # (monotone) accumulator per key = the final state.
    got = spark.sql(
        """
        SELECT event_type, user_id, MAX(micros) / 1e6 AS total FROM cumsum_topk_test
        GROUP BY event_type, user_id
        """
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(F.col("total").desc(), F.col("user_id"))
    got_topk = (
        got.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "user_id", "total", F.col("rn").cast("long").alias("rn"))
    )
    expected = queries()["q_stream_topk"](spark, sf_dir)
    assert got_topk.exceptAll(expected).count() == 0
    assert expected.exceptAll(got_topk).count() == 0


def test_stateful_sessionizer_matches_batch(spark, sf_dir):
    """The event-time-timeout sessionizer: every emitted session is
    bit-equal to a batch q_sessionize session, and every NON-final
    session per user (those the batch closes with a successor) is
    emitted — via inline gap breaks or the watermark timeout."""
    from proof_of_concept___cdc_w_iceberg_spark.registry import queries
    from proof_of_concept___cdc_w_iceberg_spark.streaming.stateful import (
        session_stream,
    )

    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    # Time-ordered file chunks -> the watermark advances batch over
    # batch, so quiet users' sessions time out mid-stream. Chunks are
    # written as SEQUENTIAL single-file appends (with an mtime gap) so
    # FileStreamSource's oldest-first ordering provably processes them
    # chronologically — a single partitioned write gives near-identical
    # mtimes, and a tie flip would fast-forward the watermark and drop
    # the earlier chunks as late. (Global window is fine here: this
    # builds a small test fixture, not a registered plan.)
    chunked = ev.withColumn("_b", F.ntile(4).over(Window.orderBy("ts"))).persist()
    src = tempfile.mkdtemp(prefix="stream_sessions_")
    for i in range(1, 5):
        chunked.filter(F.col("_b") == i).drop("_b").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)  # distinct mtimes even on coarse filesystems
    chunked.unpersist()
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = session_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sessionizer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessionizer_test").collect()
    }
    batch = queries()["q_sessionize"](spark, sf_dir).collect()
    allb = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
    }
    last_seq = {}
    for r in batch:
        last_seq[r["user_id"]] = max(last_seq.get(r["user_id"], 0), r["session_seq"])
    non_final = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
        if r["session_seq"] < last_seq[r["user_id"]]
    }
    assert got, "sessionizer emitted nothing"
    assert got <= allb, f"emitted sessions not in batch: {sorted(got - allb)[:3]}"
    assert non_final <= got, (
        f"non-final sessions missing: {sorted(non_final - got)[:3]}"
    )


def test_sessionizer_overdue_timeout_closes_inline():
    """Round-6 advice: a late event extending a session whose close is
    already DUE (watermark, advanced by other keys, at/past last+gap)
    must NOT re-arm a timeout <= the watermark — Spark throws
    IllegalArgumentException and fails the whole query. The state fn
    closes and emits the session inline instead."""
    import pandas as pd

    from proof_of_concept___cdc_w_iceberg_spark.streaming.stateful import (
        SESSION_GAP_US,
        session_state_fn,
    )

    class FakeState:
        hasTimedOut = False
        exists = True

        def __init__(self, tup, watermark_ms):
            self.get = tup
            self._wm = watermark_ms
            self.removed = False
            self.armed = None

        def getCurrentWatermarkMs(self):
            return self._wm

        def update(self, tup):
            self.get = tup

        def remove(self):
            self.removed = True

        def setTimeoutTimestamp(self, ts_ms):
            # Spark's GroupState rejects only STRICTLY-below timestamps
            # (pyspark/sql/streaming/state.py: timestampMs < watermark).
            assert ts_ms >= self._wm, (
                "re-armed a timeout below the watermark — "
                "this raises IllegalArgumentException in Spark"
            )
            self.armed = ts_ms

    t0 = 1_700_000_000_000_000  # epoch micros
    gap = SESSION_GAP_US
    # Watermark sits well past last+gap: the session is overdue.
    overdue = FakeState((t0, t0, 1), watermark_ms=(t0 + 3 * gap) // 1_000)
    # The late event lands within gap of the active session's start,
    # extending it backward — previously this re-armed a past timeout.
    late = pd.DataFrame({"ts": [pd.Timestamp(t0 - gap // 2, unit="us")]})
    rows = list(session_state_fn((7,), iter([late]), overdue))
    assert overdue.removed and overdue.armed is None
    assert len(rows) == 1
    out = rows[0].iloc[0]
    assert out["user_id"] == 7 and out["n_events"] == 2
    assert out["session_start"] == pd.Timestamp(t0 - gap // 2, unit="us")

    # Control: a session whose close is NOT due re-arms normally.
    live = FakeState((t0, t0, 1), watermark_ms=(t0 - gap) // 1_000)
    rows = list(session_state_fn((7,), iter([late]), live))
    assert rows == [] and not live.removed
    assert live.armed == t0 // 1_000 + gap // 1_000

    # Boundary: watermark EXACTLY at last+gap. Re-arming at equality is
    # legal (Spark rejects only strictly-below), and an event with
    # ts == watermark is not yet droppable by the watermark filter and
    # could still extend the session — so the fn must re-arm, not close
    # early (round-7 advice: strict <, not <=).
    at_boundary = FakeState(
        (t0, t0, 1), watermark_ms=t0 // 1_000 + gap // 1_000
    )
    rows = list(session_state_fn((7,), iter([late]), at_boundary))
    assert rows == [] and not at_boundary.removed
    assert at_boundary.armed == t0 // 1_000 + gap // 1_000


def test_apply_batch_job_budget_and_replay_collapse(spark, tmp_path,
                                                   jobs_in_group):
    """A micro-batch commit that folds runs at most 7 Spark jobs: the
    delta write with the compaction inline, then the fold's merge — no
    dead-letter probe, separate dedup shuffle or persisted compaction.
    A delta commit runs at most 2: the compaction's shuffle and the
    write. Duplicate (key, offset) deliveries inside the batch collapse
    in the latest-wins compaction, an empty batch is not counted as
    applied, and the fold of a delta whose keys land in some of the
    mirror's buckets rewrites only those."""
    snap = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
        (F.col("id") * 1.0).alias("bal"),
    )
    pipe = StreamingCdcPipeline(spark, workdir=str(tmp_path / "pipe"),
                                n_buckets=8)
    pipe.init_mirror(snap)
    events = spark.createDataFrame(
        [(k, f"u{k}", 2.0, "u", 2000, k) for k in range(0, 200, 7)]
        + [(k, None, None, "d", 2100, 1000 + k) for k in range(3, 200, 11)],
        "k long, name string, bal double, op string, ts_ms long, off long")
    batch = encode_envelope(events)
    batch = batch.unionByName(batch)  # every event delivered twice

    _, n_jobs = jobs_in_group(lambda: pipe._apply_batch(batch, 0))
    assert n_jobs <= 7, f"one folding commit ran {n_jobs} Spark jobs"
    assert pipe.batches_applied == 1
    assert pipe._mirror.delta_rows == 0, "48 keys of 200 must fold"

    expected = compact_latest(
        snap.select("k", "name", "bal", F.lit("r").alias("op"),
                    F.lit(1000).cast("long").alias("ts_ms"),
                    F.col("k").alias("off")).unionByName(events),
        ["k"],
    ).filter(F.col("op") != "d").select("k", "name", "bal")
    assert mirror_diff(pipe.mirror(), expected).count() == 0

    pipe._apply_batch(batch.limit(0), 1)
    assert pipe.batches_applied == 1
    assert mirror_diff(pipe.mirror(), expected).count() == 0

    # Two keys in different buckets: the other six buckets keep their
    # files, and the mirror still equals a latest-wins rebuild.
    few = spark.createDataFrame(
        [(1, "v1", 3.0, "u", 3000, 5000), (2, None, None, "d", 3000, 5001),
         (1, "v1b", 4.0, "u", 3001, 5002)],
        "k long, name string, bal double, op string, ts_ms long, off long")
    hit = {r[0] for r in few.select(bucket_expr(["k"], 8)).collect()}
    assert len(hit) == 2
    before = pipe._mirror.partition_files()
    assert len(before) == 8
    _, n_jobs = jobs_in_group(
        lambda: pipe._apply_batch(encode_envelope(few), 2))
    assert n_jobs <= 2, f"one delta commit ran {n_jobs} Spark jobs"
    assert pipe._mirror.delta_rows == 2
    assert pipe._mirror.partition_files() == before
    pipe._mirror.compact()
    after = pipe._mirror.partition_files()
    assert {b for b in before if before[b] != after.get(b)} == hit
    expected = compact_latest(
        expected.select("k", "name", "bal", F.lit("r").alias("op"),
                        F.lit(1000).cast("long").alias("ts_ms"),
                        F.col("k").alias("off")).unionByName(few),
        ["k"],
    ).filter(F.col("op") != "d").select("k", "name", "bal")
    assert mirror_diff(pipe.mirror(), expected).count() == 0


def test_dead_letters_build_without_spark_jobs(spark, tmp_path,
                                                 jobs_in_group):
    """The dead-letter table is read with its declared schema: building
    the read runs no schema-inference job and batch_id is a LONG."""
    pipe = StreamingCdcPipeline(spark, workdir=str(tmp_path / "pipe"))
    pipe.init_mirror(spark.range(10).select(
        F.col("id").alias("k"), F.lit("n").alias("name"),
        F.lit(1.0).alias("bal")))
    events = spark.createDataFrame(
        [(1, "u1", 2.0, "u", 2000, 1)],
        "k long, name string, bal double, op string, ts_ms long, off long")
    batch = encode_envelope(events).unionByName(
        spark.createDataFrame([(99, "{not json")], "key long, value string"))
    pipe._apply_batch(batch, 3)

    dlq, n_jobs = jobs_in_group(pipe.dead_letters)
    assert n_jobs == 0
    assert dlq.schema.simpleString() == \
        "struct<key:bigint,value:string,batch_id:bigint>"
    assert [tuple(r) for r in dlq.collect()] == [(99, "{not json", 3)]
    assert pipe.batches_applied == 1


def test_apply_batch_jobs_carry_commit_description(spark, tmp_path,
                                                   jobs_in_group):
    """Every Spark job one ``_apply_batch`` launches — the delta write,
    the fold and the dead-letter write — is described as
    ``cdc commit batch <batch_id>``, and the caller's description is
    restored afterwards."""
    sc = spark.sparkContext
    pipe = StreamingCdcPipeline(spark, workdir=str(tmp_path / "pipe"))
    pipe.init_mirror(spark.range(10).select(
        F.col("id").alias("k"), F.lit("n").alias("name"),
        F.lit(1.0).alias("bal")))
    events = spark.createDataFrame(
        [(k, f"u{k}", 2.0, "u", 2000, k) for k in range(5)],
        "k long, name string, bal double, op string, ts_ms long, off long")
    batch = encode_envelope(events).unionByName(
        spark.createDataFrame([(99, "{not json")], "key long, value string"))
    group = "commit-description-probe"
    _, n_jobs = jobs_in_group(lambda: pipe._apply_batch(batch, 7),
                              group=group)
    assert n_jobs > 0
    store = sc._jsc.sc().statusStore()
    descriptions = {store.job(j).description().get()
                    for j in sc.statusTracker().getJobIdsForGroup(group)}
    assert descriptions == {"cdc commit batch 7"}
    assert pipe.dead_letters().count() == 1
    sc.setJobDescription("outer")
    try:
        pipe._apply_batch(batch, 8)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)
