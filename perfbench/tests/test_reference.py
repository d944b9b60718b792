"""The DuckDB references, run on tiny generated inputs."""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import reference  # noqa: E402


def _replay(stream: gen.ChangeStream) -> set[tuple]:
    """Latest-wins by replaying every event in order, in plain Python."""
    state = dict(zip(stream.snapshot_keys.tolist(),
                     zip(gen.acct_names(stream.snapshot_keys),
                         stream.snapshot_bal.tolist())))
    for batch in stream.batches:
        for k, name, bal, op, _ts, _off in batch:
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = (name, bal)
    return {(k, *v) for k, v in state.items()}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_latest_wins_equals_replay_of_generated_stream(seed):
    stream = gen.change_stream(np.random.default_rng(seed), n_keys=40,
                               n_batches=4, batch_events=25)
    con = duckdb.connect()
    con.register("snap", stream.snapshot_table())
    con.register("changes", gen.batch_table(
        [e for b in stream.batches for e in b]))
    got = reference.latest_wins(con, "snap", "changes", ["k"],
                                ["k", "name", "bal"])
    rows = list(zip(*(c.to_pylist() for c in got.columns)))
    assert len(rows) == len(set(rows))
    assert set(rows) == _replay(stream)


def test_latest_wins_orders_by_ts_then_offset_and_drops_deletes():
    con = duckdb.connect()
    con.register("snap", pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    con.register("changes", pa.table({
        "k": [2, 2, 3, 4, 4],
        "v": ["b2", "b1", None, "d1", "d2"],
        "op": ["u", "u", "d", "c", "u"],
        "ts_ms": [5, 5, 6, 7, 7],
        "off": [9, 8, 10, 11, 12],
    }))
    got = reference.latest_wins(con, "snap", "changes", ["k"], ["k", "v"])
    assert sorted(zip(*(c.to_pylist() for c in got.columns))) == [
        (1, "a"), (2, "b2"), (4, "d2")]


def test_apply_batch_reports_the_diff_and_updates_state():
    con = duckdb.connect()
    con.sql("CREATE TABLE state AS SELECT * FROM (VALUES "
            "(1, 10.0), (2, 20.0), (3, 30.0)) t(k, v)")
    batch = pa.table({
        "k": [1, 1, 2, 3, 5, 6, 6],
        "v": [11.0, 10.0, None, 31.0, 50.0, 60.0, None],
        "op": ["u", "u", "d", "u", "c", "c", "d"],
        "ts_ms": [1, 2, 3, 4, 5, 6, 7],
        "off": [1, 2, 3, 4, 5, 6, 7],
    })
    # k=1 ends unchanged; 2 deleted; 3 updated; 5 created; 6 created
    # and deleted in the same batch, so it never shows.
    expect = reference.apply_batch(con, "state", batch, ["k"], ["k", "v"])
    assert expect == {"u": 1, "d": 1, "c": 1}
    assert sorted(con.sql("SELECT * FROM state").fetchall()) == [
        (1, 10.0), (3, 31.0), (5, 50.0)]


def test_mismatches_counts_the_symmetric_difference():
    con = duckdb.connect()
    a = pa.table({"k": [1, 2, 2, 3], "v": ["x", "y", "y", "z"]})
    b = pa.table({"k": [1, 2, 4], "v": ["x", "y", "w"]})
    assert reference.mismatches(con, a, a) == 0
    assert reference.mismatches(con, a, b) == 3  # (2,y) extra, (3,z), (4,w)


def test_rows_match_tolerates_summation_order_only():
    got = [("A", 1, 0.1 + 0.2), ("B", 2, None)]
    want = [("B", 2, None), ("A", 1, 0.3)]
    assert reference.rows_match(got, want)
    assert not reference.rows_match(got, [("A", 1, 0.31), ("B", 2, None)])
    assert not reference.rows_match(got, want[:1])
    # Multisets: the count of each row matters.
    assert not reference.rows_match([(1,), (1,), (2,)], [(1,), (2,), (2,)])
    # None beside a value in one column cannot be sorted plainly.
    assert reference.rows_match([(1, None), (1, 2.0)], [(1, 2.0), (1, None)])


def test_envelope_line_has_the_debezium_shape():
    upd = json.loads(gen.envelope_line((7, "n", 1.5, "u", 100, 3)))
    env = json.loads(upd["value"])
    assert upd["key"] == 7
    assert env["op"] == "u" and env["after"] == {"k": 7, "name": "n", "bal": 1.5}
    assert env["before"]["k"] == 7 and env["source"]["lsn"] == 3
    dele = json.loads(json.loads(gen.envelope_line((7, None, None, "d", 101, 4)))["value"])
    assert dele["after"] is None and dele["before"]["k"] == 7
    bad = json.loads(gen.MALFORMED_LINE)
    with pytest.raises(json.JSONDecodeError):
        json.loads(bad["value"])


def test_generation_is_a_function_of_the_seed():
    a = gen.lake_tables(np.random.default_rng(5), 0.001)
    b = gen.lake_tables(np.random.default_rng(5), 0.001)
    c = gen.lake_tables(np.random.default_rng(6), 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    r1, r2 = np.random.default_rng(9), np.random.default_rng(9)
    assert gen.sql_round(r1, 150_000) == gen.sql_round(r2, 150_000)
