"""Seeded input generation for the benchmark.

Everything the program under test sees is made here from one integer
seed: the TPC-H-shaped lake tables (the column layout of the package's
``sources.tables.TABLES``), the keyed mirror snapshot, the Debezium
envelope files of the streaming workload, the change batch of the lake
workload's ``orders`` mirror and the SQL parameters. The same seed gives byte-equal
inputs; nothing here touches Spark, so no generation cost lands inside
a timed operation.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_1992_US = 694224000 * 1_000_000  # 1992-01-01 in epoch microseconds
DAY_US = 86_400 * 1_000_000
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order window

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
# Change-event op proportions (u, d, c) and key skew.
OP_MIX = [0.90, 0.05, 0.05]
ZIPF_S = 1.1
# Rows of the wide query the lake workload drains page by page.
DRAIN_ROWS = 25_000

WORDS = ["data", "lake", "spark", "change", "event", "table", "merge",
         "stream", "query", "batch", "mirror", "commit", "row", "key"]


def _strings(prefix: str, ids: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in ids.tolist()])


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def lake_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten lake tables at scale factor ``sf`` (lineitem ≈ 6M × sf)."""
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _strings("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _strings("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _strings("Part", pk),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part).tolist(),
            rng.integers(1, 6, n_part).tolist())]),
        "p_type": _choice(rng, ["STANDARD BRUSHED", "SMALL PLATED",
                                "MEDIUM POLISHED", "LARGE ANODIZED",
                                "ECONOMY BURNISHED", "PROMO TIN"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10 + 100 * (pk % 11), 2)})

    # Orders: sparse keys like dbgen; 1–7 lines each.
    ok = np.arange(1, n_ord + 1, dtype=np.int64) * 4 - 3
    odate_day = rng.integers(0, ORDER_DAYS - 151, n_ord)
    nlines = rng.integers(1, 8, n_ord)
    li_order = np.repeat(ok, nlines)
    li_day = np.repeat(odate_day, nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    li_no = (np.arange(len(li_order)) - starts + 1).astype(np.int32)
    n_li = len(li_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    price = np.round(qty * (900 + (partkey % 1000) / 10 + 100 * (partkey % 11)), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship_day = li_day + rng.integers(1, 122, n_li)
    cutoff = 1264  # 1995-06-17: lines shipped after it are still open
    status = np.where(ship_day > cutoff, "O", "F")
    rflag = np.where(ship_day > cutoff, "N",
                     np.where(rng.random(n_li) < 0.5, "R", "A"))
    out["lineitem"] = pa.table({
        "l_orderkey": li_order,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": li_no,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": pa.array(rflag.tolist()),
        "l_linestatus": pa.array(status.tolist()),
        "l_shipdate": pa.array(EPOCH_1992_US + ship_day * DAY_US,
                               pa.timestamp("us"))})
    # o_totalprice = sum of the order's line prices (as dbgen, less tax).
    tot = np.bincount(np.repeat(np.arange(n_ord), nlines), weights=price)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(tot, 2),
        "o_orderdate": pa.array(EPOCH_1992_US + odate_day * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})

    n_ev = int(1_000_000 * sf)
    ts_ns = (EPOCH_1992_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))) * 1000
    ev_types = rng.integers(0, len(EVENT_TYPES), n_ev)
    out["events"] = pa.table({
        "event_id": np.arange(1, n_ev + 1, dtype=np.int64),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "user_id": rng.integers(1, n_cust + 1, n_ev).astype(np.int64),
        "event_type": pa.array([EVENT_TYPES[i] for i in ev_types.tolist()]),
        "value": np.round(rng.exponential(20.0, n_ev), 2),
        "props": pa.array([f'{{"page":{p},"ab":"{"AB"[p % 2]}"}}'
                           for p in rng.integers(0, 50, n_ev).tolist()])})
    n_doc = int(50_000 * sf)
    lens = rng.integers(5, 40, n_doc)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens.tolist():
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + n].tolist()))
        pos += n
    out["documents"] = pa.table({
        "doc_id": np.arange(1, n_doc + 1, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _choice(rng, ["en", "de", "fr"], n_doc),
        "source": _choice(rng, ["web", "book", "code"], n_doc),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_emb, dim = int(20_000 * sf), 16
    flat = rng.standard_normal(n_emb * dim).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(1, n_emb + 1, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * dim + 1, dim, dtype=np.int32)),
            pa.array(flat)),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_lake(rng: np.random.Generator, sf: float, out_dir: str) -> dict[str, int]:
    """Write the lake tables as ``{out_dir}/{name}.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in lake_tables(rng, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --- keyed (k, name, bal) mirror + Debezium change stream ------------------


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """``size`` draws from ``1..n_keys`` with Zipf(``ZIPF_S``) skew over a
    seeded random rank → key permutation (hot keys are scattered, not
    1..k)."""
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    perm = rng.permutation(n_keys) + 1
    return perm[rng.choice(n_keys, size=size, p=p)]


@dataclass
class ChangeStream:
    """A keyed snapshot and ordered change batches over it.

    ``batches[i]`` is a list of events ``(k, name, bal, op, ts_ms, off)``
    with ``op`` in c/u/d; ``name``/``bal`` are None for deletes. Offsets
    and timestamps increase over the whole stream, so applying the
    batches in order with per-batch latest-wins equals one global
    latest-wins over snapshot + all events."""

    snapshot_keys: np.ndarray
    snapshot_bal: np.ndarray
    batches: list[list[tuple]] = field(default_factory=list)

    def snapshot_table(self) -> pa.Table:
        return pa.table({
            "k": self.snapshot_keys,
            "name": pa.array(acct_names(self.snapshot_keys)),
            "bal": self.snapshot_bal})


def acct_names(keys: np.ndarray) -> list[str]:
    return [f"acct#{k:09d}" for k in keys.tolist()]


def change_stream(rng: np.random.Generator, n_keys: int, n_batches: int,
                  batch_events: int) -> ChangeStream:
    """Snapshot of ``n_keys`` accounts plus ``n_batches`` batches of
    ``batch_events`` Zipf-keyed events in the ``OP_MIX`` proportions.
    Updates and deletes pick snapshot keys (an update after a delete
    re-inserts the key, as an upsert does); creates take fresh keys
    above the snapshot's range."""
    keys = np.arange(1, n_keys + 1, dtype=np.int64)
    bal = np.round(rng.uniform(0, 10_000, n_keys), 2)
    stream = ChangeStream(keys, bal)
    total = n_batches * batch_events
    hot = zipf_keys(rng, n_keys, total)
    ops = rng.choice(np.array(["u", "d", "c"]), size=total, p=OP_MIX)
    amounts = np.round(rng.uniform(-500, 500, total), 2)
    next_new = n_keys + 1
    off = 1
    for b in range(n_batches):
        events = []
        for j in range(b * batch_events, (b + 1) * batch_events):
            op = str(ops[j])
            if op == "c":
                k = next_new
                next_new += 1
            else:
                k = int(hot[j])
            if op == "d":
                events.append((k, None, None, "d", 1_000_000 + off, off))
            else:
                events.append((k, f"acct#{k:09d}-v{off}", float(amounts[j]),
                               op, 1_000_000 + off, off))
            off += 1
        stream.batches.append(events)
    return stream


def envelope_line(event: tuple) -> str:
    """One stream-input record: ``{"key": k, "value": <envelope JSON>}``,
    the Debezium shape ``cdc.envelope.ENVELOPE_SCHEMA`` decodes."""
    k, name, bal, op, ts_ms, off = event
    after = None if op == "d" else {"k": k, "name": name, "bal": bal}
    before = {"k": k, "name": None, "bal": None} if op in ("u", "d") else None
    env = {"before": before, "after": after,
           "source": {"db": "commerce_db", "schema": "commerce",
                      "table": "account", "lsn": off, "ts_ms": ts_ms,
                      "snapshot": "false"},
           "op": op, "ts_ms": ts_ms}
    return json.dumps({"key": k, "value": json.dumps(env)})


MALFORMED_LINE = json.dumps({"key": 0, "value": '{"before": nul'})


def write_envelope_file(events: list[tuple], path: str,
                        malformed: int = 0) -> None:
    """Write one batch as envelope JSON lines (plus ``malformed``
    unparseable envelopes) to ``path``."""
    with open(path, "w") as f:
        for e in events:
            f.write(envelope_line(e) + "\n")
        for _ in range(malformed):
            f.write(MALFORMED_LINE + "\n")


def batch_table(events: list[tuple]) -> pa.Table:
    """A change batch as a flat (k, name, bal, op, ts_ms, off) table."""
    cols = list(zip(*events))
    return pa.table({
        "k": pa.array(cols[0], pa.int64()),
        "name": pa.array(cols[1], pa.string()),
        "bal": pa.array(cols[2], pa.float64()),
        "op": pa.array(cols[3], pa.string()),
        "ts_ms": pa.array(cols[4], pa.int64()),
        "off": pa.array(cols[5], pa.int64())})


# --- orders change batch (lake workload's versioned mirror) -------------

ORDERS_CHANGE_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING, "
    "op STRING, ts_ms BIGINT, off BIGINT")


def orders_changes(rng: np.random.Generator, orders: pa.Table,
                   n_events: int) -> pa.Table:
    """One change batch over ``orders`` keyed by o_orderkey: Zipf row
    picks, ops in the ``OP_MIX`` proportions. An update re-prices the order and flips its
    status; a create copies a random order under a fresh even key (the
    snapshot's keys are odd); a delete carries NULL data columns."""
    n = orders.num_rows
    rows = zipf_keys(rng, n, n_events) - 1
    ops = rng.choice(np.array(["u", "d", "c"]), size=n_events, p=OP_MIX)
    is_c = ops == "c"
    rows[is_c] = rng.integers(0, n, int(is_c.sum()))
    t = orders.take(pa.array(rows))
    key = t.column("o_orderkey").to_numpy().copy()
    key[is_c] = 2 + 4 * np.arange(int(is_c.sum()), dtype=np.int64)
    is_d = pa.array(ops == "d")
    off = np.arange(1, n_events + 1, dtype=np.int64)

    def data(arr):
        if not isinstance(arr, (pa.Array, pa.ChunkedArray)):
            arr = pa.array(arr)
        return pc.if_else(is_d, pa.scalar(None, arr.type), arr)

    return pa.table({
        "o_orderkey": pa.array(key, pa.int64()),
        "o_custkey": data(t.column("o_custkey")),
        "o_orderstatus": data(pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n_events)])),
        "o_totalprice": data(np.round(rng.uniform(1000, 400_000, n_events), 2)),
        "o_orderdate": data(t.column("o_orderdate")),
        "o_orderpriority": data(t.column("o_orderpriority")),
        "op": pa.array(ops, pa.string()),
        "ts_ms": pa.array(1_000_000 + off, pa.int64()),
        "off": pa.array(off, pa.int64()),
    })


# --- SQL parameters (lake workload) ---------------------------------------


def sql_round(rng: np.random.Generator, n_orders: int) -> dict[str, str]:
    """One round of the lake-SQL shapes with seeded parameters, in the
    fixed order the workload runs them: point lookup, Q6, Q1, Q3, a
    wide drain, and one aggregate over the latest and over the first
    snapshot of the ``orders`` mirror. Every literal is rendered so that
    Spark SQL and DuckDB read the text the same way."""
    k = 4 * int(rng.integers(0, n_orders)) + 1
    year = int(rng.integers(1993, 1998))
    d = int(rng.integers(2, 10))
    qty = int(rng.integers(24, 26))
    cut = np.datetime64("1998-12-01") - np.timedelta64(int(rng.integers(60, 121)), "D")
    seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
    q3d = np.datetime64("1995-03-01") + np.timedelta64(int(rng.integers(0, 31)), "D")
    lo = 4 * int(rng.integers(0, n_orders - DRAIN_ROWS)) + 1
    hi = lo + 4 * DRAIN_ROWS - 1
    prio = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))]
    return {
        "point": (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
            "CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem "
            f"WHERE l_orderkey = {k}"),
        "q6": (
            "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{year}-01-01' "
            f"AND l_shipdate < TIMESTAMP '{year + 1}-01-01' "
            f"AND l_discount BETWEEN 0.{d - 1:02d} AND 0.{d + 1:02d} "
            f"AND l_quantity < {qty}"),
        "q1": (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base_price, "
            "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
            "avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price, "
            "avg(l_discount) AS avg_disc, count(*) AS count_order "
            f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{cut}' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"),
        "q3": (
            "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            "FROM customer, orders, lineitem "
            f"WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey "
            f"AND l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '{q3d}' "
            f"AND l_shipdate > TIMESTAMP '{q3d}' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),
        "drain": (
            "SELECT o_orderkey, o_custkey, o_totalprice, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            f"FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi}"),
        "latest": ORDERS_AGG.format(t="orders", prio=prio),
        "travel": ORDERS_AGG.format(t="orders_v0", prio=prio),
    }


# The same aggregate over the latest and the first snapshot of the
# ``orders`` mirror.
ORDERS_AGG = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
              "FROM {t} WHERE o_orderpriority = '{prio}' "
              "GROUP BY o_orderstatus ORDER BY o_orderstatus")
