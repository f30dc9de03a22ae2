"""Distributed as-of (point-in-time) join.

The one join family Spark has no native operator for, and the one a
transcript/CDC lake needs constantly: "for each left row at time t,
the single most recent right row at or before t (per key)" — feature
backfill against an event feed, point-in-time lookup against an SCD2
history (operators/scd2.py), enrichment of a change stream with the
latest prior dimension state. The reference's ecosystem delegates this
to the warehouse engine (Trino/DuckDB spell it ``ASOF JOIN``); here it
is built from Spark primitives with the plan shape that survives
100 TB.

Why not a range join: the naive SQL spelling
``l JOIN r ON l.k = r.k AND r.ts <= l.ts`` explodes to every
qualifying pair and then dedups with a window — O(|l|·|r|) worst case
per key and a BroadcastNestedLoop/SortMerge blowup on skewed keys.

Plan shape here (union–sort–window, the classic distributed as-of):

* project both sides to (key…, ts, side, payload-struct) and UNION —
  map-side only, no join node at all;
* ONE hash Exchange on the key columns;
* one sort per partition on (ts, side) feeding a single running
  ``last(payload, ignorenulls)`` window, rows unbounded-preceding →
  current — each left row reads the latest right payload in its
  prefix; O(n log n) per partition, zero row multiplication;
* filter back to left rows and unpack the struct.

Tie and direction semantics are carried entirely by the (ts, side)
sort order:

* ``backward`` (default): latest right with ``r.ts <= l.ts``
  (``<`` when ``strict=True``) — right sorts before left at equal ts
  for inclusive, after it for strict;
* ``forward``: earliest right with ``r.ts >= l.ts`` (``>`` when
  strict) — same trick over a descending ts sort;
* ``tolerance_seconds``: matches farther than the tolerance from the
  left timestamp are nulled out (pandas ``merge_asof`` semantics) —
  the match is still the nearest one, never the nearest-within-
  tolerance.

Determinism contract: the right side must be unique per (key…, ts) —
duplicate timestamps make "the" latest row ambiguous in every engine
(DuckDB's ASOF JOIN picks an arbitrary one). Callers dedupe first
(``max_by`` on a tiebreak column); this operator fails fast only in
tests, not with a runtime count (no extra Exchange on the hot path).

Null semantics: right rows with a null key or null timestamp can
never be "the latest prior row" and are dropped; left rows with null
key/ts are kept and get a null match (nulls-first placement puts them
before any right row in the sort for either direction).

Exactly SQL-expressible (DuckDB ``ASOF [LEFT] JOIN``), so the
operator oracles directly against the driver's DuckDB gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ._join_common import (
    all_not_null,
    check_payload_collisions,
    check_reserved_names,
    default_payload,
    normalize_keys,
    qcol,
    quote_name as _quote,
)

_TS = "__asof_ts"
_SIDE = "__asof_side"
_LEFT = "__asof_l"
_RIGHT = "__asof_r"
_MATCH = "__asof_m"
_MATCH_TS = "__asof_mts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str | tuple[str, str]],
    left_ts: str,
    right_ts: str,
    *,
    direction: str = "backward",
    strict: bool = False,
    tolerance_seconds: float | None = None,
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Left as-of join: every ``left`` row, enriched with the payload
    columns of its single nearest ``right`` row per key (null when no
    right row qualifies).

    ``on`` lists equi-key columns — a plain string when the name is
    shared, a ``(left_name, right_name)`` pair otherwise. ``payload``
    selects the right columns to carry (default: everything on the
    right except its key and timestamp columns); payload names must
    not collide with left column names — rename on the right first.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = normalize_keys(on)
    if not keys:
        raise ValueError("asof_join needs at least one key column")
    rkey_names = [rk for _, rk in keys]
    if payload is None:
        payload = default_payload(right.columns, [*rkey_names, right_ts])
    payload = list(payload)
    check_payload_collisions(payload, left.columns, "left")

    key_aliases = [f"__asof_k{i}" for i in range(len(keys))]

    left_side = left.select(
        *[qcol(lk).alias(a) for (lk, _), a in zip(keys, key_aliases)],
        qcol(left_ts).alias(_TS),
        F.lit(1).alias(_SIDE),
        F.struct(*[qcol(c).alias(c) for c in left.columns]).alias(_LEFT),
        F.lit(None).cast(
            right.select(F.struct(
                qcol(right_ts).alias(_MATCH_TS),
                *[qcol(c).alias(c) for c in payload]).alias(_RIGHT)
            ).schema[_RIGHT].dataType).alias(_RIGHT),
    )
    # A right row with a null key or null ts can never be a match —
    # drop it map-side so null-keyed LEFT rows cannot pair with it.
    right_side = (
        right
        .where(qcol(right_ts).isNotNull()
               & all_not_null([rk for _, rk in keys]))
        .select(
            *[qcol(rk).alias(a) for (_, rk), a in zip(keys, key_aliases)],
            qcol(right_ts).alias(_TS),
            F.lit(0).alias(_SIDE),
            F.lit(None).cast(
                left.select(F.struct(*[qcol(c).alias(c) for c in left.columns])
                            .alias(_LEFT)).schema[_LEFT].dataType
            ).alias(_LEFT),
            F.struct(qcol(right_ts).alias(_MATCH_TS),
                     *[qcol(c).alias(c) for c in payload]).alias(_RIGHT),
        )
    )

    # (ts, side) sort order encodes direction + strictness; nulls-first
    # keeps null-ts left rows ahead of every right row (=> null match).
    if direction == "backward":
        ts_order = F.col(_TS).asc_nulls_first()
    else:
        ts_order = F.col(_TS).desc_nulls_first()
    # inclusive: right (side 0) sorts before left at equal ts => visible;
    # strict: right sorts after left at equal ts => invisible.
    side_order = F.col(_SIDE).desc() if strict else F.col(_SIDE).asc()

    w = (Window.partitionBy(*key_aliases)
         .orderBy(ts_order, side_order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (
        left_side.unionByName(right_side)
        .withColumn(_MATCH, F.last(_RIGHT, ignorenulls=True).over(w))
        .where(F.col(_SIDE) == 1)
    )

    m = F.col(_MATCH)
    if tolerance_seconds is not None:
        from ._time import epoch_seconds

        gap = F.abs(
            epoch_seconds(F.col(_TS), left.schema[left_ts].dataType)
            - epoch_seconds(m[_MATCH_TS], right.schema[right_ts].dataType))
        in_tol = m.isNotNull() & (gap <= F.lit(float(tolerance_seconds)))
        m = F.when(in_tol, m)

    return matched.select(
        *[F.col(_LEFT).getField(c).alias(c) for c in left.columns],
        *[m.getField(c).alias(c) for c in payload],
    )


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str | tuple[str, str]],
    left_ts: str,
    right_ts: str,
    *,
    direction: str = "backward",
    strict: bool = False,
    tolerance_seconds: float | None = None,
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """``asof_join`` for a SMALL right side — identical output
    contract, different physical plan.

    The union–sort–window plan shuffles BOTH sides on the key; when
    the left side is the 100 TB fact table and the right side is a
    dimension history that fits in a broadcast (the overwhelmingly
    common enrichment case), that Exchange of the fact table is the
    entire cost of the join. Here the right side is packed into ONE
    row per key — a sorted array of (epoch, ts, payload) structs —
    and broadcast, so the fact side is never shuffled, never sorted,
    and never row-multiplied: the plan is a BroadcastHashJoin plus a
    per-row array probe (``filter`` + ``get``), with the only
    Exchange being the small side's own pack aggregate.

    Bounds: the whole packed right side must fit in a broadcast, and
    a single key's history must be comfortable in one row (dimension
    histories are; an unbounded event feed is not — use ``asof_join``
    there). The per-row probe is O(versions-per-key); histories are
    short, and the scan stays in whole-stage codegen.

    Same determinism contract as ``asof_join`` (right unique per
    (key, ts)); same null semantics (null-key/ts right rows dropped;
    null-key/ts left rows keep a null match).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = normalize_keys(on)
    if not keys:
        raise ValueError("asof_join_broadcast needs at least one key column")
    rkey_names = [rk for _, rk in keys]
    if payload is None:
        payload = default_payload(right.columns, [*rkey_names, right_ts])
    payload = list(payload)
    check_payload_collisions(payload, left.columns, "left")

    from ._time import epoch_seconds

    key_aliases = [f"__asof_k{i}" for i in range(len(keys))]
    arr = "__asof_arr"
    check_reserved_names([arr, *key_aliases], ("left", left.columns))

    r_epoch = epoch_seconds(qcol(right_ts), right.schema[right_ts].dataType)
    packed = (
        right
        .where(qcol(right_ts).isNotNull()
               & all_not_null([rk for _, rk in keys]))
        .groupBy(*[qcol(rk).alias(a)
                   for (_, rk), a in zip(keys, key_aliases)])
        # sorted on the epoch alone: payload values are no sort key, so
        # a non-orderable payload type (e.g. a map) is fine
        .agg(F.array_sort(F.collect_list(F.struct(
            r_epoch.alias("__e"),
            qcol(right_ts).alias(_MATCH_TS),
            *[qcol(c).alias(c) for c in payload])),
            lambda x, y: F.signum(x["__e"] - y["__e"]).cast("int"))
            .alias(arr))
    )

    join_cond = None
    for (lk, _), a in zip(keys, key_aliases):
        c = left[_quote(lk)] == packed[a]
        join_cond = c if join_cond is None else (join_cond & c)
    joined = left.join(F.broadcast(packed), join_cond, "left")

    l_e = epoch_seconds(left[_quote(left_ts)],
                        left.schema[left_ts].dataType)
    if direction == "backward":
        keep = ((lambda x: x["__e"] < l_e) if strict
                else (lambda x: x["__e"] <= l_e))
    else:
        keep = ((lambda x: x["__e"] > l_e) if strict
                else (lambda x: x["__e"] >= l_e))
    cand = F.filter(F.col(arr), keep)
    # array is epoch-ascending: backward match = last qualifier,
    # forward match = first. F.get is null-safe out of bounds (the
    # empty/null-array and null-left-ts cases).
    m = (F.get(cand, F.size(cand) - 1) if direction == "backward"
         else F.get(cand, 0))
    if tolerance_seconds is not None:
        gap = F.abs(l_e - m["__e"])
        m = F.when(m.isNotNull()
                   & (gap <= F.lit(float(tolerance_seconds))), m)

    return joined.select(
        *[left[_quote(c)].alias(c) for c in left.columns],
        *[m.getField(c).alias(c) for c in payload],
    )


def asof_lookup_scd2(
    facts: DataFrame,
    history: DataFrame,
    on: Sequence[str | tuple[str, str]],
    fact_version: str,
    *,
    valid_from: str = "valid_from_version",
    valid_to: str = "valid_to_version",
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Point-in-time lookup of an SCD2 history (operators/scd2.py
    output): each fact row gets the dimension payload whose interval
    contains the fact's version. Because SCD2 intervals tile the
    version axis per key, ``interval containing v`` ≡ ``latest
    valid_from <= v`` — a backward as-of join, no range predicate —
    EXCEPT after a delete, where the latest interval is already closed
    (``valid_to <= v``, exclusive bound, and nothing reopened); those
    matches are nulled out so a deleted key reads as absent."""
    if payload is None:
        rkeys = [rk for _, rk in normalize_keys(on)]
        payload = default_payload(history.columns,
                                  [*rkeys, valid_from, valid_to])
    payload = list(payload)
    joined = asof_join(facts, history, on, fact_version, valid_from,
                       direction="backward",
                       payload=payload + [valid_to])
    expired = (qcol(valid_to).isNotNull()
               & (qcol(valid_to) <= qcol(fact_version)))
    return joined.select(
        *[qcol(c).alias(c) for c in facts.columns],
        *[F.when(~expired, qcol(c)).alias(c) for c in payload],
    )
