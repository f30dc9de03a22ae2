import datetime as dt
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oracle


def _mk(conv, turn):
    return hashlib.sha256(f"{conv}\x1f{turn}".encode()).hexdigest()


@pytest.fixture()
def landing(tmp_path):
    ts = dt.datetime(2024, 1, 1)
    rows = [
        # version, op, conv, turn, role, text
        (1, "I", "conv-1", 0, "user", "hello  world"),
        (2, "U", "conv-1", 0, "user", " hello\tthere "),
        (3, "I", "conv-2", 1, "tool", "bye"),
        (4, "D", "conv-2", 1, None, None),
        (5, "I", "conv-3", 2, "system", "kept"),
    ]
    cols = list(zip(*rows))
    table = pa.table({
        "sys_change_version": pa.array(cols[0], pa.int64()),
        "sys_change_operation": pa.array(cols[1]),
        "conv_id": pa.array(cols[2]),
        "turn_idx": pa.array(cols[3], pa.int32()),
        "role": pa.array(cols[4]),
        "text": pa.array(cols[5]),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us")),
    })
    d = tmp_path / "landing"
    d.mkdir()
    pq.write_table(table, d / "part-0.parquet")
    return str(d)


def _engine_output(tmp_path, rows):
    ts = dt.datetime(2024, 1, 1)
    conv, turn, role, text, ver = zip(*rows)
    path = os.path.join(tmp_path, "table.parquet")
    pq.write_table(pa.table({
        "conv_id": pa.array(conv), "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role), "text": pa.array(text),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us")),
        "sys_change_version": pa.array(ver, pa.int64()),
        "arcane_merge_key": pa.array([_mk(c, t) for c, t in zip(conv, turn)]),
        "__extra": pa.array([0] * len(rows)),
    }), path)
    return [path]


GOOD = [("conv-1", 0, "user", "hello there", 2), ("conv-3", 2, "system", "kept", 5)]


def test_expected_state_matches_a_correct_table(landing, tmp_path):
    con = oracle.connect()
    res = oracle.compare_state(con, oracle.expected_sql(landing, 5),
                               oracle.table_sql(_engine_output(tmp_path, GOOD)))
    assert res == {"expected_rows": 2, "actual_rows": 2, "ok": True}


def test_corrupting_one_row_is_caught(landing, tmp_path):
    con = oracle.connect()
    files = _engine_output(tmp_path, GOOD)
    res = oracle.compare_state(con, oracle.expected_sql(landing, 5),
                               oracle.table_sql(files, corrupt=True))
    assert not res["ok"]
    assert res["missing"] == 1 and res["unexpected"] == 1


@pytest.mark.parametrize("rows", [
    GOOD[:1],                                               # a lost row
    GOOD + [("conv-2", 1, "tool", "bye", 3)],               # a delete not applied
    [("conv-1", 0, "user", "hello  world", 1), GOOD[1]],    # an older version
    [("conv-1", 0, "user", " hello\tthere ", 2), GOOD[1]],  # not normalized
])
def test_wrong_states_are_caught(landing, tmp_path, rows):
    con = oracle.connect()
    res = oracle.compare_state(con, oracle.expected_sql(landing, 5),
                               oracle.table_sql(_engine_output(tmp_path, rows)))
    assert not res["ok"]


def test_backfilled_rows_keep_raw_text(landing, tmp_path):
    con = oracle.connect()
    raw = [("conv-1", 0, "user", " hello\tthere ", 2), GOOD[1]]
    res = oracle.compare_state(con, oracle.expected_sql(landing, 5, raw_text_upto=2),
                               oracle.table_sql(_engine_output(tmp_path, raw)))
    assert res["ok"]


def test_watermark_bounds_the_expected_state(landing):
    con = oracle.connect()
    assert oracle.digest(con, oracle.expected_sql(landing, 3))[0] == 2
    assert oracle.digest(con, oracle.expected_sql(landing, 4))[0] == 1


def test_lookup_answers(landing):
    con = oracle.connect()
    got = oracle.lookup_answers(con, oracle.expected_sql(landing, 5),
                                [("conv-1", 0), ("conv-2", 1), ("nope", 9)])
    assert got == {("conv-1", 0): ("hello there", 2), ("conv-2", 1): None,
                   ("nope", 9): None}


def test_cdf_counts(tmp_path):
    con = oracle.connect()
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    old = _engine_output(tmp_path / "a", GOOD)
    new = _engine_output(tmp_path / "b", [
        ("conv-1", 0, "user", "changed", 7), ("conv-4", 0, "user", "new", 8)])
    assert oracle.cdf_counts(con, old, new) == {
        "update_postimage": 1, "delete": 1, "insert": 1}
    assert oracle.cdf_counts(con, [], old) == {"insert": 2}
