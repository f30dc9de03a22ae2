"""As-of join: direction/strictness/tolerance semantics, null handling,
SCD2 point-in-time lookup (delete expiry), and the one-Exchange
no-join-node plan shape."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from arcane_stream_sqlserver_change_tracking_spark.operators.asof import (
    asof_join,
    asof_lookup_scd2,
)
from arcane_stream_sqlserver_change_tracking_spark.operators.scd2 import scd2_history


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            Row(sym="a", qts=_ts(1), px=1.0),
            Row(sym="a", qts=_ts(3), px=3.0),
            Row(sym="a", qts=_ts(5), px=5.0),
            Row(sym="b", qts=_ts(2), px=20.0),
        ]
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            Row(tid=1, sym="a", ts=_ts(2)),   # between quotes 1 and 3
            Row(tid=2, sym="a", ts=_ts(3)),   # exactly on quote 3
            Row(tid=3, sym="a", ts=_ts(9)),   # after everything
            Row(tid=4, sym="b", ts=_ts(1)),   # before b's only quote
            Row(tid=5, sym="c", ts=_ts(4)),   # key with no quotes
        ]
    )


def _px(df):
    return {r.tid: r.px for r in df.collect()}


def test_backward_inclusive(trades, quotes):
    out = asof_join(trades, quotes, ["sym"], "ts", "qts", payload=["px"])
    assert out.columns == ["tid", "sym", "ts", "px"]
    assert _px(out) == {1: 1.0, 2: 3.0, 3: 5.0, 4: None, 5: None}


def test_backward_strict_excludes_equal_ts(trades, quotes):
    out = asof_join(trades, quotes, ["sym"], "ts", "qts", strict=True,
                    payload=["px"])
    assert _px(out) == {1: 1.0, 2: 1.0, 3: 5.0, 4: None, 5: None}


def test_forward_inclusive_and_strict(trades, quotes):
    fwd = asof_join(trades, quotes, ["sym"], "ts", "qts",
                    direction="forward", payload=["px"])
    assert _px(fwd) == {1: 3.0, 2: 3.0, 3: None, 4: 20.0, 5: None}
    fwd_strict = asof_join(trades, quotes, ["sym"], "ts", "qts",
                           direction="forward", strict=True, payload=["px"])
    assert _px(fwd_strict)[2] == 5.0  # equal-ts quote skipped


def test_tolerance_nulls_stale_matches(trades, quotes):
    out = asof_join(trades, quotes, ["sym"], "ts", "qts",
                    tolerance_seconds=2 * 86400.0, payload=["px"])
    # trade 3 (day 9) is 4 days past quote 5 -> nulled; others within 2d
    assert _px(out) == {1: 1.0, 2: 3.0, 3: None, 4: None, 5: None}


def test_null_keys_and_ts_never_match(spark):
    left = spark.createDataFrame(
        [Row(tid=1, k=None, ts=_ts(5)), Row(tid=2, k="a", ts=None),
         Row(tid=3, k="a", ts=_ts(5))])
    right = spark.createDataFrame(
        [Row(k=None, rts=_ts(1), v="bad"),
         Row(k="a", rts=None, v="bad"),
         Row(k="a", rts=_ts(1), v="good")])
    out = asof_join(left, right, ["k"], "ts", "rts", payload=["v"])
    got = {r.tid: r.v for r in out.collect()}
    assert got == {1: None, 2: None, 3: "good"}


def test_two_column_key_and_renamed_key(spark, quotes):
    left = spark.createDataFrame(
        [Row(tid=1, s="a", region=1, ts=_ts(4)),
         Row(tid=2, s="a", region=2, ts=_ts(4))])
    right = spark.createDataFrame(
        [Row(sym="a", reg=1, qts=_ts(3), px=3.0),
         Row(sym="a", reg=2, qts=_ts(2), px=2.0)])
    out = asof_join(left, right, [("s", "sym"), ("region", "reg")],
                    "ts", "qts", payload=["px"])
    assert _px(out) == {1: 3.0, 2: 2.0}


def test_payload_collision_raises(trades, quotes):
    with pytest.raises(ValueError, match="collide"):
        asof_join(trades, quotes.withColumnRenamed("px", "ts"),
                  ["sym"], "ts", "qts", payload=["ts"])


def test_plan_one_exchange_no_join_node(trades, quotes):
    out = asof_join(trades, quotes, ["sym"], "ts", "qts", payload=["px"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_scd2_lookup_reads_state_at_version_and_expires_deletes(spark):
    changes = spark.createDataFrame(
        [
            Row(k="a", ver=1, op="I", val="a1"),
            Row(k="a", ver=5, op="U", val="a5"),
            Row(k="b", ver=2, op="I", val="b2"),
            Row(k="b", ver=6, op="D", val=None),
        ]
    )
    hist = scd2_history(changes, ["k"], "ver", "op", payload_columns=["val"])
    facts = spark.createDataFrame(
        [
            Row(fid=1, k="a", v=1),   # exactly at open -> a1
            Row(fid=2, k="a", v=4),   # inside first interval -> a1
            Row(fid=3, k="a", v=9),   # current -> a5
            Row(fid=4, k="b", v=5),   # before delete -> b2
            Row(fid=5, k="b", v=6),   # at delete version (exclusive) -> gone
            Row(fid=6, k="b", v=1),   # before first insert -> null
        ]
    )
    out = asof_lookup_scd2(facts, hist, ["k"], "v", payload=["val"])
    assert out.columns == ["fid", "k", "v", "val"]
    got = {r.fid: r.val for r in out.collect()}
    assert got == {1: "a1", 2: "a1", 3: "a5", 4: "b2", 5: None, 6: None}


def test_matches_duckdb_asof_on_synthetic_events(spark, sf_dir):
    duckdb = pytest.importorskip("duckdb")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = (ev.where(F.col("event_type") == "purchase")
           .groupBy("user_id", "ts")
           .agg(F.max_by("value", "event_id").alias("pv"))
           .withColumnRenamed("user_id", "pu").withColumnRenamed("ts", "pts"))
    out = asof_join(ev, p, [("user_id", "pu")], "ts", "pts", strict=True,
                    payload=["pv"])
    got = {r.event_id: r.pv for r in out.select("event_id", "pv").collect()}
    oracle = duckdb.sql(f"""
        WITH p AS (SELECT user_id, ts, arg_max(value, event_id) AS pv
                   FROM '{sf_dir}/events.parquet'
                   WHERE event_type='purchase' GROUP BY 1, 2)
        SELECT e.event_id, p.pv FROM '{sf_dir}/events.parquet' e
        ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts > p.ts
    """).fetchall()
    assert len(oracle) == len(got)
    for eid, pv in oracle:
        a, b = got[eid], pv
        assert (a is None and b is None) or abs(a - b) < 1e-9


def test_special_character_column_names(spark):
    # Names containing backticks and dots are legal in Spark schemas
    # (external metadata produces them); every internal reference is
    # literally quoted, so the join must work unchanged.
    left = spark.createDataFrame([(1, 10.0), (None, 20.0)], ["k`y", "t.s"])
    right = spark.createDataFrame(
        [(1, 5.0, "a"), (1, 15.0, "b")], ["k`y", "rts", "va`l"])
    out = asof_join(left, right, [("k`y", "k`y")], "t.s", "rts").collect()
    got = {r["k`y"]: r["va`l"] for r in out}
    assert got == {1: "a", None: None}


# ------------------------------------------------- randomized vs merge_asof

@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("direction,strict", [
    ("backward", False), ("backward", True),
    ("forward", False), ("forward", True)])
def test_randomized_matches_pandas_merge_asof(spark, seed, direction,
                                              strict):
    """pandas merge_asof is the de-facto reference semantics for as-of
    joins; on random tie-heavy integer-timestamp data every
    (direction, strictness) combination must agree exactly.
    (Null handling is pinned separately — merge_asof forbids NaN in
    the on-column.)"""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    left_pd = pd.DataFrame({
        "k": rng.integers(0, 4, 40),
        "ts": rng.integers(0, 25, 40).astype("float64"),
        "lid": np.arange(40),
    })
    right_pd = pd.DataFrame({
        "k": rng.integers(0, 4, 40),
        "ts": rng.integers(0, 25, 40).astype("float64"),
        "px": rng.random(40).round(3),
    }).drop_duplicates(["k", "ts"])  # determinism contract

    got = asof_join(
        spark.createDataFrame(left_pd),
        spark.createDataFrame(right_pd.rename(columns={"ts": "rts"})),
        ["k"], "ts", "rts", direction=direction, strict=strict,
        payload=["px"],
    ).toPandas().sort_values("lid").reset_index(drop=True)

    want = pd.merge_asof(
        left_pd.sort_values("ts", kind="stable"),
        right_pd.sort_values("ts", kind="stable"),
        on="ts", by="k", direction=direction,
        allow_exact_matches=not strict,
    ).sort_values("lid").reset_index(drop=True)

    pd.testing.assert_series_equal(got["px"], want["px"],
                                   check_names=False)


@pytest.mark.parametrize("seed", [7, 8])
def test_randomized_tolerance_matches_pandas(spark, seed):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    left_pd = pd.DataFrame({
        "k": rng.integers(0, 3, 30),
        "ts": rng.integers(0, 40, 30).astype("float64"),
        "lid": np.arange(30),
    })
    right_pd = pd.DataFrame({
        "k": rng.integers(0, 3, 30),
        "ts": rng.integers(0, 40, 30).astype("float64"),
        "px": rng.random(30).round(3),
    }).drop_duplicates(["k", "ts"])

    got = asof_join(
        spark.createDataFrame(left_pd),
        spark.createDataFrame(right_pd.rename(columns={"ts": "rts"})),
        ["k"], "ts", "rts", tolerance_seconds=5.0, payload=["px"],
    ).toPandas().sort_values("lid").reset_index(drop=True)

    want = pd.merge_asof(
        left_pd.sort_values("ts", kind="stable"),
        right_pd.sort_values("ts", kind="stable"),
        on="ts", by="k", tolerance=5.0,
    ).sort_values("lid").reset_index(drop=True)

    pd.testing.assert_series_equal(got["px"], want["px"],
                                   check_names=False)


# ------------------------------------------------- broadcast variant

from arcane_stream_sqlserver_change_tracking_spark.operators.asof import (  # noqa: E402
    asof_join_broadcast,
)


@pytest.mark.parametrize("seed", [11, 12])
@pytest.mark.parametrize("direction,strict", [
    ("backward", False), ("backward", True),
    ("forward", False), ("forward", True)])
def test_broadcast_variant_equals_shuffle_variant(spark, seed,
                                                  direction, strict):
    """asof_join_broadcast must be plan-for-plan different but
    value-for-value identical to asof_join on tie-heavy random data."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    lp = pd.DataFrame({"k": rng.integers(0, 4, 40),
                       "ts": rng.integers(0, 25, 40).astype("float64"),
                       "lid": np.arange(40)})
    rp = pd.DataFrame({"k": rng.integers(0, 4, 40),
                       "rts": rng.integers(0, 25, 40).astype("float64"),
                       "px": rng.random(40).round(3)}
                      ).drop_duplicates(["k", "rts"])
    L, R = spark.createDataFrame(lp), spark.createDataFrame(rp)
    a = asof_join(L, R, ["k"], "ts", "rts", direction=direction,
                  strict=strict, payload=["px"]
                  ).toPandas().sort_values("lid").reset_index(drop=True)
    b = asof_join_broadcast(L, R, ["k"], "ts", "rts",
                            direction=direction, strict=strict,
                            payload=["px"]
                            ).toPandas().sort_values("lid").reset_index(
                                drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_broadcast_variant_tolerance_and_nulls(spark):
    import pandas as pd

    L = spark.createDataFrame(
        [(1, 10.0, 1), (1, None, 2), (None, 5.0, 3), (2, 9.0, 4)],
        "k int, ts double, lid int")
    R = spark.createDataFrame(
        [(1, 1.0, "old"), (1, 9.5, "new"), (None, 4.0, "nullk"),
         (2, None, "nullts")],
        "k int, rts double, v string")
    a = asof_join(L, R, ["k"], "ts", "rts", tolerance_seconds=2.0
                  ).toPandas().sort_values("lid").reset_index(drop=True)
    b = asof_join_broadcast(L, R, ["k"], "ts", "rts",
                            tolerance_seconds=2.0
                            ).toPandas().sort_values("lid").reset_index(
                                drop=True)
    pd.testing.assert_frame_equal(a, b)
    got = {r.lid: r.v for r in spark.createDataFrame(b).collect()}
    # lid 1: nearest within 2s is 9.5; lid 2/3: null ts/key -> null;
    # lid 4: key 2's only row has null ts (dropped) -> null
    assert got == {1: "new", 2: None, 3: None, 4: None}


def test_broadcast_variant_accepts_non_orderable_payload(spark):
    """A map payload is not orderable; the packed array sorts on the
    epoch alone, so the broadcast variant matches like the shuffle one."""
    L = spark.createDataFrame([(1, 5.0, 1), (1, 12.0, 2), (2, 3.0, 3)],
                              "k int, ts double, lid int")
    R = spark.createDataFrame(
        [(1, 10.0, {"v": 10}), (1, 1.0, {"v": 1}), (2, 4.0, {"v": 4})],
        "k int, rts double, m map<string,int>")
    got = {r.lid: r.m for r in asof_join_broadcast(
        L, R, ["k"], "ts", "rts", payload=["m"]).collect()}
    want = {r.lid: r.m for r in asof_join(
        L, R, ["k"], "ts", "rts", payload=["m"]).collect()}
    assert got == want == {1: {"v": 1}, 2: {"v": 10}, 3: None}


def test_broadcast_variant_plan_never_shuffles_the_fact_side(spark,
                                                             sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = spark.createDataFrame(
        [(u, float(v), v * 10) for u in range(5) for v in range(3)],
        "d_user long, d_ts double, d_val int")
    out = asof_join_broadcast(ev, dim, [("user_id", "d_user")],
                              "ts", "d_ts", payload=["d_val"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan
    # the ONLY hash Exchange is the small side's pack aggregate — the
    # fact (parquet) side is never shuffled or sorted: every Exchange
    # in the plan sits below the BroadcastExchange, none above the
    # events scan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in plan


def test_quote_name_roundtrips_hostile_names(spark):
    """quote_name must make any legal schema name referenceable as one
    literal part — dots, backticks, spaces, quotes, unicode."""
    from arcane_stream_sqlserver_change_tracking_spark.operators._join_common import (
        qcol,
    )

    names = ["a.b", "a`b", "a``b", "a b", "a'b", 'a"b', "日本語",
             "a.b`c d", "`leading", "trailing`"]
    df = spark.createDataFrame([tuple(range(len(names)))], names)
    got = df.select(*[qcol(n).alias(f"c{i}")
                      for i, n in enumerate(names)]).first()
    assert list(got) == list(range(len(names)))
