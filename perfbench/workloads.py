"""The benchmark workloads.

Each is a closed loop with one client: the next op is issued only when
the previous one has returned. Each calls the package's public
functions from outside. Every output is kept and checked against a
DuckDB reference after the measured phase, so no check uses measured
time.

- ``cdc_stream``: a long-lived ``StreamingCdcPipeline`` fed small
  Debezium envelope files; fixed per-commit cost and write
  amplification dominate.
- ``lake_sql``: read-only SQL through ``SqlEndpoint`` over the lake,
  whose ``orders`` table is a versioned ``SnapshotMirror`` that every
  set-up builds and applies a change batch to; fixed cost for point
  lookups, executor work for the aggregates and joins, paging for the
  wide drain, and latest, time-travel and diff reads of the mirror.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
import reference
import stats
from harness import STOP, Run

# --- sizes (documented in perfbench/README.md) -----------------------------

STREAM_KEYS = 100_000
STREAM_BATCH_EVENTS = 300
STREAM_WARM_BATCHES = 5
STREAM_MAX_BATCHES = 60
STREAM_DLQ_BATCHES = {0: 3, 1: 2}  # warm-up batch index -> malformed lines

SQL_SF = 0.05
SQL_ORDERS_EVENTS = 5_000
SQL_WARM_ROUNDS = 2
SQL_MAX_ROUNDS = 400
SQL_PAGE = 1000

SETUP_REPS = 3


def _poll_until(pred, timeout: float, what: str, q=None) -> None:
    """Spin on ``pred`` (cheap, local) until true; check the streaming
    query for death about once a second."""
    t_end = time.perf_counter() + timeout
    next_check = time.perf_counter() + 1.0
    while not pred():
        now = time.perf_counter()
        if now > t_end:
            raise TimeoutError(f"timed out waiting for {what}")
        if q is not None and now > next_check:
            next_check = now + 1.0
            if not q.isActive:
                raise RuntimeError(f"stream died waiting for {what}: "
                                   f"{q.exception()}")
        time.sleep(0.002)


def _bucket_files(path: str) -> dict[str, dict[str, int]]:
    """bucket dir -> {parquet file name: size} of a bucketed mirror."""
    out = {}
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("__bucket=") and os.path.isdir(full):
            out[d] = {n: os.path.getsize(os.path.join(full, n))
                      for n in os.listdir(full) if n.endswith(".parquet")}
    return out


# --- cdc_stream -------------------------------------------------------------


def cdc_stream(run: Run) -> None:
    from pyspark.sql import functions as F

    from proof_of_concept___cdc_w_iceberg_spark.cdc.maintenance import dir_stats
    from proof_of_concept___cdc_w_iceberg_spark.streaming.pipeline import (
        StreamingCdcPipeline,
    )

    spark = run.spark
    run.scale = (f"keys={STREAM_KEYS} batch_events={STREAM_BATCH_EVENTS}")
    rng = np.random.default_rng(run.seed)
    stream = gen.change_stream(rng, STREAM_KEYS, STREAM_MAX_BATCHES,
                               STREAM_BATCH_EVENTS)
    snap_path = os.path.join(run.work, "snapshot.parquet")
    pq.write_table(stream.snapshot_table(), snap_path)
    staged = os.path.join(run.work, "staged")
    os.makedirs(staged)
    for i, events in enumerate(stream.batches):
        gen.write_envelope_file(events, os.path.join(staged, f"b_{i:05d}.json"),
                                malformed=STREAM_DLQ_BATCHES.get(i, 0))
    snap_schema = "k LONG, name STRING, bal DOUBLE"
    run.mark("inputs")

    init_s, start_s = [], []
    pipe = q = None
    for r in range(SETUP_REPS):
        if q is not None:
            q.stop()
        t0 = time.perf_counter()
        pipe = StreamingCdcPipeline(spark, workdir=os.path.join(run.work, f"pipe{r}"),
                                    trigger_seconds=0)
        _, dt_init = run.span("setup.init", lambda: pipe.init_mirror(
            spark.read.schema(snap_schema).parquet(snap_path)))
        q, dt_start = run.span("setup.start", lambda: pipe.start(trigger_once=False))
        run.setup_s.append(time.perf_counter() - t0)
        init_s.append(dt_init)
        start_s.append(dt_start)
    run.layer["cdc.init_s"] = statistics.median(init_s)
    run.layer["streaming.start_s"] = statistics.median(start_s)
    run.mark("setup")

    run.declare("commit", "read")
    state = dict(zip(stream.snapshot_keys.tolist(),
                     zip(gen.acct_names(stream.snapshot_keys),
                         stream.snapshot_bal.tolist())))
    applied = 0
    reads = []  # (batch, rows read, expected rows) per commit
    files_before = _bucket_files(pipe.mirror_path) if run.trace else {}
    try:
        for i, events in enumerate(stream.batches):
            if i == STREAM_WARM_BATCHES:
                run.start_measuring()
            run.next_round()
            src = os.path.join(staged, f"b_{i:05d}.json")
            dst = os.path.join(pipe.input_dir, f"b_{i:05d}.json")
            done = os.path.join(pipe.checkpoint, "commits", str(i))

            def commit():
                os.rename(src, dst)
                _poll_until(lambda: os.path.exists(done), 120.0,
                            f"commit of batch {i}", q)

            run.op("commit", commit, items=lambda _: len(events))
            applied += 1
            for k, name, bal, op, _ts, _off in events:
                if op == "d":
                    state.pop(k, None)
                else:
                    state[k] = (name, bal)
            keys = sorted({e[0] for e in events})
            if run.trace:
                if run.measuring:
                    _stream_layers(run, q, i, pipe, files_before, len(events))
                files_before = _bucket_files(pipe.mirror_path)
            rows = run.op("read", lambda: pipe.mirror().filter(
                F.col("k").isin(keys)).collect())
            reads.append((i, rows, [(k, *state[k]) for k in keys if k in state]))
    except STOP:
        pass
    finally:
        q.stop()
    run.mark("measure")

    for i, rows, want in reads:
        got = sorted((r.k, r.name, r.bal) for r in rows)
        run.check(got == want, f"point read after batch {i}")

    mirror = pipe.mirror().select("k", "name", "bal").toArrow()
    con = duckdb.connect()
    con.register("snap", pq.read_table(snap_path))
    con.register("changes", gen.batch_table(
        [e for b in stream.batches[:applied] for e in b]))
    want = reference.latest_wins(con, "snap", "changes", ["k"],
                                 ["k", "name", "bal"])
    bad = reference.mismatches(con, mirror, want)
    run.check(bad == 0, f"final mirror differs from reference in {bad} rows")
    dlq = pipe.dead_letters().count()
    expect_dlq = sum(n for b, n in STREAM_DLQ_BATCHES.items() if b < applied)
    run.check(dlq == expect_dlq, f"dead letters {dlq} != {expect_dlq}")
    con.close()

    nbytes, nfiles = dir_stats(pipe.mirror_path)
    run.layer["cdc.mirror_files"] = nfiles
    run.layer["cdc.mirror_bytes"] = nbytes
    run.layer["cdc.bytes_retained"] = dir_stats(pipe.workdir)[0]
    run.mark("check")


def _stream_layers(run: Run, q, batch_id: int, pipe, files_before,
                   n_events: int) -> None:
    """Traced run only: the streaming engine's own split of the commit
    (from its progress report) and what the commit rewrote on disk."""
    _poll_until(lambda: (q.lastProgress is not None
                         and q.lastProgress.batchId >= batch_id),
                30.0, f"progress of batch {batch_id}", q)
    prog = q.lastProgress
    if prog.batchId == batch_id:
        d = prog.durationMs
        trig = d.get("triggerExecution", 0) / 1000.0
        add = d.get("addBatch", 0) / 1000.0
        run.sample("streaming.add_batch_s", add)
        run.sample("streaming.overhead_s", trig - add)
        run.sample("streaming.wait_s", run.samples["commit"][-1] - trig)
    after = _bucket_files(pipe.mirror_path)
    touched = [b for b, files in after.items() if files != files_before.get(b)]
    touched += [b for b in files_before if b not in after]
    rows = nbytes = 0
    for b in touched:
        for name, size in after.get(b, {}).items():
            if name not in files_before.get(b, {}):
                nbytes += size
                rows += pq.read_metadata(
                    os.path.join(pipe.mirror_path, b, name)).num_rows
    run.sample("cdc.buckets_touched_per_commit", len(touched))
    run.sample("cdc.rows_rewritten_per_event", rows / n_events)
    run.sample("cdc.bytes_written_per_event", nbytes / n_events)


# --- lake_sql ---------------------------------------------------------------


def lake_sql(run: Run) -> None:
    from pyspark.sql import functions as F

    from proof_of_concept___cdc_w_iceberg_spark.api import SqlEndpoint
    from proof_of_concept___cdc_w_iceberg_spark.cdc.maintenance import dir_stats
    from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import SnapshotMirror
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import TABLES, load

    spark = run.spark
    run.scale = f"sf={SQL_SF} orders_change_events={SQL_ORDERS_EVENTS}"
    run.loads_per_span = len(TABLES)
    rng = np.random.default_rng(run.seed)
    lake = os.path.join(run.work, "lake")
    counts = gen.write_lake(rng, SQL_SF, lake)
    orders_path = os.path.join(lake, "orders.parquet")
    orders = pq.read_table(orders_path)
    batch = gen.orders_changes(rng, orders, SQL_ORDERS_EVENTS)
    batch_path = os.path.join(run.work, "orders_changes.parquet")
    pq.write_table(batch, batch_path)
    rounds = [gen.sql_round(rng, counts["orders"]) for _ in range(SQL_MAX_ROUNDS)]
    run.mark("inputs")

    # A set-up is the endpoint (ten loads) plus the versioned mirror
    # behind ``orders``: init from the lake table, then one commit of
    # the change batch, so the mirror has a latest snapshot and a first
    # one to time-travel to.
    init_s, apply_s = [], []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        ep, dt = run.span("setup.load",
                          lambda: SqlEndpoint(spark, lake, page_size=SQL_PAGE))
        run.sample("sources.load_s", dt / len(TABLES))
        mirror = SnapshotMirror(spark, os.path.join(run.work, f"orders_mirror{r}"),
                                keys=["o_orderkey"])
        init_s.append(run.span("setup.init", lambda: mirror.init(
            load(spark, lake, "orders")))[1])
        apply_s.append(run.span("setup.apply", lambda: mirror.apply(
            spark.read.schema(gen.ORDERS_CHANGE_DDL).parquet(batch_path)))[1])
        run.setup_s.append(time.perf_counter() - t0)
    run.layer["cdc.init_s"] = statistics.median(init_s)
    run.layer["cdc.apply_s"] = statistics.median(apply_s)
    mirror.read().createOrReplaceTempView("orders")
    run.mark("setup")

    def view(name: str, version: int | None):
        """Resolve a snapshot of the mirror and serve it as ``name``."""
        return lambda: mirror.read(version).createOrReplaceTempView(name)

    # The ``latest`` and ``travel`` ops resolve their snapshot inside
    # the op: manifest lookup and parquet listing are part of the read.
    views = {"latest": view("orders", None), "travel": view("orders_v0", 0)}
    kinds = list(rounds[0]) + ["diff"]
    run.declare(*kinds)
    first_page = {k: [] for k in kinds if k != "diff"}
    results, diffs = [], []  # checked after the measured phase
    try:
        for i, queries in enumerate(rounds):
            if i == SQL_WARM_ROUNDS:
                run.start_measuring()
            run.next_round()
            for kind, sql in queries.items():
                timing = {}

                def query():
                    t0 = time.perf_counter()
                    if kind in views:
                        views[kind]()
                    _, pages = ep.execute(sql)
                    timing["execute"] = time.perf_counter() - t0
                    rows, n_pages = [], 0
                    for page in pages:
                        if not n_pages:
                            timing["first"] = time.perf_counter() - t0
                        n_pages += 1
                        rows.extend(page)
                    timing["pages"] = n_pages
                    return rows

                rows = run.op(kind, query, items=len)
                results.append((kind, sql, rows))
                if run.measuring:
                    total = run.samples[kind][-1]
                    first = timing.get("first", total)
                    first_page[kind].append(first)
                    run.sample("api.execute_s", timing["execute"])
                    if kind == "drain":
                        run.sample("api.drain_s", total - first)
                        run.sample("api.pages", timing["pages"])
                        run.sample("api.rows_returned", len(rows))
            diffs.append(run.op("diff", lambda: dict(
                mirror.diff(0, 1).groupBy("op").count().collect())))
    except STOP:
        pass
    run.mark("measure")

    con = duckdb.connect()
    for t in TABLES:
        if t != "orders":
            con.sql(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(lake, t + '.parquet')}')")
    con.sql(f"CREATE TABLE orders_v0 AS SELECT * FROM read_parquet('{orders_path}')")
    con.sql("CREATE TABLE orders AS SELECT * FROM orders_v0")
    expect_diff = reference.apply_batch(con, "orders", batch, ["o_orderkey"],
                                        orders.column_names)
    for kind, sql, rows in results:
        want = con.sql(sql).fetchall()
        run.check(reference.rows_match([tuple(r) for r in rows], want),
                  f"{kind} result differs from reference: {sql}")
    for got in diffs:
        run.check(got == expect_diff, f"diff v0->v1: {got} != {expect_diff}")

    latest = mirror.read().select(
        *[F.unix_micros(c).alias(c) if c == "o_orderdate" else F.col(c)
          for c in orders.column_names]).toArrow()
    want = con.sql("SELECT * REPLACE (epoch_us(o_orderdate) AS o_orderdate) "
                   "FROM orders").arrow()
    bad = reference.mismatches(con, latest, want)
    run.check(bad == 0, f"orders mirror differs from reference in {bad} rows")
    con.close()
    if all(first_page.values()):
        run.layer["api.first_page_s"] = stats.per_kind_geomean(first_page)

    files = [f.removeprefix("file://") for f in mirror.read().inputFiles()]
    run.layer["cdc.mirror_files"] = len(files)
    run.layer["cdc.mirror_bytes"] = sum(os.path.getsize(f) for f in files)
    run.layer["cdc.bytes_retained"] = dir_stats(mirror.path)[0]
    t0 = time.perf_counter()
    mirror.expire(keep_last=1)
    run.layer["cdc.expire_s"] = time.perf_counter() - t0
    for kind, name in (("latest", "cdc.read_latest_s"),
                       ("travel", "cdc.read_travel_s"), ("diff", "cdc.diff_s")):
        if run.samples[kind]:
            run.layer[name] = statistics.median(run.samples[kind])
    run.mark("check")


WORKLOADS = {"cdc_stream": cdc_stream, "lake_sql": lake_sql}
