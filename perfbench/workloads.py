"""The workloads. Each drives ``CdcEngine``/``LakeTable`` only through
their entry points; in a traced run it then probes the table it wrote as
one reading client (full scans, bucket-pruned point lookups,
``changes_between`` over the last snapshot pair), whose figures are
per-layer metrics. Every workload yields every end-to-end metric:

* ``bulk_drain`` - catch-up after an outage, closed loop: the whole
  backlog is in the landing zone at t0 and ``run_incremental`` drains it
  in two pipelined batches into an empty table. The drain is repeated,
  each time into a fresh table with its own t0, and every metric is the
  median over the repetitions. One more such drain, into a separate
  table before the window, warms the engine. Lag is the time from t0 to the
  commit that made each event visible.
* ``steady_lag`` - steady-state CDC, open loop: the source head advances
  at a fixed event rate on the wall clock over a preloaded table many
  times the batch size, and the engine polls (one ``run_incremental``
  each, one batch) right after every commit, a fixed number of times.
  Two warm-up polls before the window make it the steady state. Lag is
  commit time minus each event's scheduled creation time. Maintenance
  runs after every batch, on the engine's own cadence, which also
  bounds the table's storage.

Both write phases end in a layout that does not depend on timing (a
fixed number of batches, maintenance after each steady_lag batch), so
the read probe reads the same layout in every run.

Inputs come from ``synth_transcripts_changelog(seed=...)`` written once
to landing parquet before timing starts; a seeded eighth of the events
carry extra spaces and tabs so the whitespace normalization is checked.

Set-up (``setup_s``) is the program's share of the work before the timed
window: session start, the median of the table set-ups (bootstrap of
each repetition's table in bulk_drain; three bootstraps with the preload
backfill in steady_lag) and the warm-up. Input generation and the
oracle's preparation are the benchmark's own work and are not counted. Everything the probe reads is checked against the
oracle after the window closes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import zlib
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arcane_stream_sqlserver_change_tracking_spark.functions.keys import (
    VERSION_COL,
    bucket_expr,
    merge_key_expr,
)
from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable
from arcane_stream_sqlserver_change_tracking_spark.sources.changelog import (
    synth_transcripts_changelog,
)
from arcane_stream_sqlserver_change_tracking_spark.streaming.runner import (
    CdcEngine,
    EngineOptions,
)

import oracle
from stats import event_lags, percentile

PAYLOAD = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])
KEYS = ("conv_id", "turn_idx")
NUM_BUCKETS = 24
TABLE_COLUMNS = list(oracle.COLUMNS)

#: bench.py's shape (10 events per conversation, 20% of events on 4 hot
#: conversations, payload_repeat=4) scaled to fit a run on 4 vCPUs: 24
#: buckets instead of 32, and two pipelined batches of equal size
#: instead of four, so the event-weighted median is the last event of
#: the first batch. A drain is bound by per-batch fixed costs at this
#: size, so ``--seconds`` buys repetitions of one drain (the same backlog
#: into a fresh table each time, one per ``BULK_SECONDS_PER_DRAIN``; a
#: drain takes about 5 s on 4 vCPUs), and the metrics are medians over
#: them: a slow repetition moves one sample, not the run's figure.
BULK_EVENTS = 6_000
BULK_BATCH_EVENTS = 3_000
BULK_SECONDS_PER_DRAIN = 4.5
#: steady_lag: a preloaded table many times one poll's batch, an offered
#: rate the engine sustains, and maintenance after every batch, so every
#: poll does the same work (merge, write, commit, compaction) and the lag
#: distribution is the same from poll to poll. ``--seconds`` sets the
#: number of polls, one per ``STEADY_SECONDS_PER_POLL``.
STEADY_PRELOAD = 10_000
STEADY_WARM_EVENTS = 1_000
STEADY_WARM_POLLS = 2
STEADY_RATE = 200.0
STEADY_LEAD_S = 4.0
STEADY_SECONDS_PER_POLL = 3.5
STEADY_MAINTENANCE_EVERY = 1
STEADY_KEEP_SNAPSHOTS = 3
#: landing events past the preload: enough for polls up to 6 s each
STEADY_STREAM_S_PER_POLL = 6.0
#: table set-ups per steady_lag run; set-up reports their median
TABLE_SETUPS = 3
#: read probe after the write phase
PROBE_SCANS = 3
PROBE_LOOKUPS = 20
PROBE_CDF_CALLS = 2
#: reads in the warm-up, so the probe measures the layout, not the
#: first compilation of the read plans
WARM_LOOKUPS = 3
GATE_RULES = ({"column": "conv_id", "check": "not_null"},)


# -- inputs ------------------------------------------------------------------
def write_landing(spark, path: str, events: int, seed: int) -> None:
    """Seeded changelog with versions 1..events, written once to parquet."""
    df = synth_transcripts_changelog(
        spark, events, num_convs=max(1, events // 10), hot_conv_count=4,
        hot_fraction=0.2, payload_repeat=4, seed=seed, num_partitions=4,
    )
    messy = F.pmod(F.xxhash64(F.col(VERSION_COL), F.lit(seed)), F.lit(8)) == 0
    df = df.withColumn(
        "text",
        F.when(messy, F.concat(F.lit(" \t"),
                               F.regexp_replace("text", " ", "  "),
                               F.lit("\t ")))
        .otherwise(F.col("text")),
    )
    df.write.mode("overwrite").parquet(path)


def make_engine(spark, root: str, batch_events: int, **opts) -> CdcEngine:
    return CdcEngine(spark, LakeTable(spark, root), EngineOptions(
        key_columns=KEYS, num_buckets=NUM_BUCKETS,
        max_events_per_batch=batch_events, normalize_text_columns=("text",),
        **opts,
    ))


# -- run context -----------------------------------------------------------
@dataclass
class Run:
    spark: object
    out: str
    seed: int
    seconds: float
    tracer: object
    corrupt: bool = False
    #: run the read probe (traced runs only: its figures are per-layer
    #: metrics, and untraced runs must fit the run budget)
    probe: bool = False
    attempted: int = 0
    checks: list = field(default_factory=list)
    commits: list = field(default_factory=list)
    read: dict = field(default_factory=lambda: {
        "scan_s": [], "scan_rows_per_s": [], "scan_rows": [], "lookup_ms": [],
        "lookups": [], "cdf_s": [], "cdfs": [], "files_opened": 0,
    })
    window: tuple = (0.0, 0.0)
    drain: dict = field(default_factory=dict)
    #: set-up parts in seconds: session, warm_up, table (one per set-up)
    setup: dict = field(default_factory=lambda: {"warm_up": 0.0, "table": []})
    table_mb: float = 0.0
    phases: dict = field(default_factory=dict)
    _mark: float = field(default_factory=time.time)

    def phase(self, name: str) -> None:
        """Close the phase that started at the previous mark."""
        now = time.time()
        self.phases[name] = now - self._mark
        self._mark = now
        print(f"[perfbench] {name} {self.phases[name]:.1f}s", file=sys.stderr, flush=True)

    def check(self, name: str, ok: bool, **detail) -> None:
        self.checks.append({"check": name, "ok": bool(ok), **detail})

    def path(self, *parts: str) -> str:
        return os.path.join(self.out, *parts)

    def setup_s(self) -> float:
        return (self.setup["session"] + self.setup["warm_up"]
                + statistics.median(self.setup["table"]))


class CommitLog:
    """Facts about every snapshot committed after the one current at
    construction, read from the public snapshot manifests right after
    each drain or poll (maintenance may expire them later)."""

    def __init__(self, table: LakeTable):
        self.table = table
        self.prev = table.current_snapshot()
        self.facts: list[dict] = []

    def collect(self) -> None:
        for sid in self.table.snapshot_log():
            if sid <= self.prev.snapshot_id:
                continue
            snap = self.table.snapshot(sid)
            self.facts.append(commit_facts(self.prev, snap))
            self.prev = snap

    def last_pair(self) -> tuple[int, int]:
        """The last data commit and its parent snapshot, the pair the
        probe's ``changes_between`` reads."""
        last = [f for f in self.facts if not f["maintenance"]][-1]
        return last["parent_id"], last["snapshot_id"]


def commit_facts(parent, snap) -> dict:
    maintenance = any("maintenance" in e for e in snap.lineage)
    touched = sorted(
        b for b in set(parent.bucket_manifests) | set(snap.bucket_manifests)
        if (parent.bucket_manifests.get(b) or {}).get("path")
        != (snap.bucket_manifests.get(b) or {}).get("path")
    )
    old = {f["path"] for f in parent.files_for(touched)}
    new = [f for f in snap.files_for(touched) if f["path"] not in old]
    return {
        "snapshot_id": snap.snapshot_id,
        "parent_id": parent.snapshot_id,
        "commit_time": snap.timestamp_ms / 1000.0,
        "wm_lo": int((parent.watermark or {}).get("version") or 0),
        "wm_hi": int((snap.watermark or {}).get("version") or 0),
        "maintenance": maintenance,
        "touched_buckets": len(touched),
        "rows_read": sum(int((parent.bucket_manifests.get(b) or {}).get("rows", 0))
                         for b in touched),
        "rows_applied": 0 if maintenance else sum(
            int(e.get("rows_applied", 0)) for e in snap.lineage),
        "files_written": len(new),
        "bytes_written": sum(int(f.get("bytes", 0)) for f in new),
        "rows_written": sum(int(f.get("rows", 0)) for f in new),
        "rows_per_file": [int(f.get("rows", 0)) for f in new],
        "table_bytes": sum(int(m.get("bytes", 0))
                           for m in snap.bucket_manifests.values()),
    }


# -- read operations ---------------------------------------------------------
def scan_query(table: LakeTable):
    """Full scan touching every column: row count and a column hash."""
    return table.read().agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in TABLE_COLUMNS]),
                     F.lit(1 << 31))).alias("h"),
    )


def lookup_query(table: LakeTable, conv: str, turn: int, bucket: int):
    return (
        table.read(buckets=[bucket])
        .filter((F.col("conv_id") == conv) & (F.col("turn_idx") == turn))
        .select("text", VERSION_COL)
    )


def cdf_query(table: LakeTable, a: int, b: int):
    return table.changes_between(a, b).groupBy("_change_type").count()


def scan(run: Run, table: LakeTable) -> None:
    files = len(table.current_snapshot().files)
    t = time.perf_counter()
    with run.tracer.span("bench.scan", "read"):
        row = scan_query(table).collect()[0]
    dt = time.perf_counter() - t
    run.attempted += 1
    run.read["scan_s"].append(dt)
    run.read["scan_rows_per_s"].append(row["n"] / dt)
    run.read["scan_rows"].append(row["n"])
    run.read["files_opened"] += files


def lookup(run: Run, table: LakeTable, key, bucket: int) -> None:
    conv, turn = key
    files = len(table.current_snapshot().files_for([bucket]))
    t = time.perf_counter()
    with run.tracer.span("bench.lookup", "read"):
        rows = lookup_query(table, conv, turn, bucket).collect()
    run.read["lookup_ms"].append((time.perf_counter() - t) * 1000.0)
    run.read["files_opened"] += files
    run.attempted += 1
    run.read["lookups"].append((key, [(r["text"], r[VERSION_COL]) for r in rows]))


def cdf(run: Run, table: LakeTable, a: int, b: int) -> None:
    t = time.perf_counter()
    with run.tracer.span("bench.cdf", "cdf"):
        got = {r["_change_type"]: r["count"] for r in cdf_query(table, a, b).collect()}
    run.read["cdf_s"].append(time.perf_counter() - t)
    run.attempted += 1
    run.read["cdfs"].append((a, b, got))


def lookup_plan(run: Run, con, landing: str, upto: int, n: int):
    """``n`` lookup keys with their buckets, prepared outside the timed
    window: about 90% written at or below version ``upto`` (some of
    them since deleted), 10% never written."""
    written = con.execute(
        f"SELECT DISTINCT conv_id, turn_idx "
        f"FROM read_parquet('{os.path.join(landing, '*.parquet')}') "
        f"WHERE sys_change_version <= {int(upto)} "
        f"ORDER BY hash(conv_id, turn_idx, {run.seed}) LIMIT {n - n // 10}"
    ).fetchall()
    missing = [(f"conv-none-{run.seed}-{i}", i % 64) for i in range(n // 10)]
    keys = [tuple(k) for k in written] + missing
    keys.sort(key=lambda k: zlib.crc32(f"{run.seed}:{k}".encode()))
    buckets = {
        (r["conv_id"], r["turn_idx"]): r["b"]
        for r in run.spark.createDataFrame(keys, "conv_id string, turn_idx int")
        .withColumn("b", bucket_expr(merge_key_expr(list(KEYS)), NUM_BUCKETS))
        .collect()
    }
    return keys, buckets


def snapshot_files(table: LakeTable, snapshot_id: int) -> list[str]:
    return [os.path.join(table.root, f["path"]) for f in table.snapshot(snapshot_id).files]


def read_probe(run: Run, table: LakeTable, pair: tuple[int, int], plan) -> None:
    """Consumers of the table just written, one client in a closed loop:
    full scans, bucket-pruned point lookups, then ``changes_between``
    over the last snapshot pair. Answers are checked by ``verify``."""
    if not run.probe:
        return
    keys, buckets = plan
    for _ in range(PROBE_SCANS):
        scan(run, table)
    for k in keys:
        lookup(run, table, k, buckets[k])
    for _ in range(PROBE_CDF_CALLS):
        cdf(run, table, *pair)


def verify_state(run: Run, table: LakeTable, con, expected_sql: str) -> int:
    """The table's current state against the DuckDB oracle; returns the
    expected row count."""
    files = snapshot_files(table, table.current_snapshot().snapshot_id)
    res = oracle.compare_state(con, expected_sql, oracle.table_sql(files, run.corrupt))
    run.check("final_state", res.pop("ok"), **res)
    return res["expected_rows"]


def verify(run: Run, table: LakeTable, con, expected_sql: str) -> None:
    """After the window: the final state, every scan's row count, every
    lookup answer and every CDF count against the DuckDB oracle."""
    run.table_mb = sum(int(m.get("bytes", 0)) for m in
                       table.current_snapshot().bucket_manifests.values()) / 1e6
    expected_rows = verify_state(run, table, con, expected_sql)
    if not run.probe:
        return

    scans = run.read["scan_rows"]
    run.check("scan_rows", all(n == expected_rows for n in scans),
              n=len(scans), expected=expected_rows, got=sorted(set(scans)))

    answers = oracle.lookup_answers(con, expected_sql,
                                    [k for k, _got in run.read["lookups"]])
    wrong = sum(got != ([answers[k]] if answers[k] is not None else [])
                for k, got in run.read["lookups"])
    run.check("lookups", wrong == 0, n=len(run.read["lookups"]), wrong=wrong)

    wanted: dict = {}
    bad = 0
    for a, b, got in run.read["cdfs"]:
        if (a, b) not in wanted:
            wanted[(a, b)] = oracle.cdf_counts(
                con, snapshot_files(table, a), snapshot_files(table, b))
        bad += got != wanted[(a, b)]
    run.check("cdf", bad == 0, calls=len(run.read["cdfs"]), wrong=bad)


# -- shared phases -----------------------------------------------------------
def warm_reads(table: LakeTable, a: int, b: int) -> None:
    scan_query(table).collect()
    for i in range(WARM_LOOKUPS):
        lookup_query(table, f"conv-{i}", i, i % NUM_BUCKETS).collect()
    cdf_query(table, a, b).collect()


def warm_up_drain(run: Run, changelog) -> None:
    """One drain like the timed ones into a separate table and (if the
    probe runs) reads of it, so JIT compilation and code generation are
    warm before timing starts. Counted in set-up."""
    t = time.time()
    eng = make_engine(run.spark, run.path("warmup_table"), BULK_BATCH_EVENTS,
                      expectations=GATE_RULES)
    eng.bootstrap(PAYLOAD)
    eng.run_incremental(changelog, maintenance=False)
    if run.probe:
        warm_reads(eng.table, *eng.table.snapshot_log()[:2])
    run.setup["warm_up"] = time.time() - t
    shutil.rmtree(run.path("warmup_table"), ignore_errors=True)
    run.phase("warm_up")


def warm_up_poll(run: Run, eng: CdcEngine, changelog, head: int) -> None:
    """``STEADY_WARM_POLLS`` polls, the last up to version ``head``, each
    with its maintenance pass, and (if the probe runs) reads of the
    table, so JIT compilation and code generation are warm before timing
    starts. Counted in set-up."""
    t = time.time()
    applied = int(eng.table.current_snapshot().watermark["version"])
    for i in range(1, STEADY_WARM_POLLS + 1):
        before = eng.table.current_snapshot().snapshot_id
        upto = applied + (head - applied) * i // STEADY_WARM_POLLS
        eng.run_incremental(changelog.filter(F.col(VERSION_COL) <= upto))
    if run.probe:
        warm_reads(eng.table, before, before + 1)
    run.setup["warm_up"] = time.time() - t
    run.phase("warm_up")


def set_up_tables(run: Run, n: int, make, prepare=lambda eng: None) -> list[CdcEngine]:
    """``n`` fresh table set-ups (``make(root)``, bootstrap, ``prepare``),
    each timed."""
    engines = []
    for i in range(n):
        t = time.time()
        eng = make(run.path(f"table{i}"))
        eng.bootstrap(PAYLOAD)
        prepare(eng)
        run.setup["table"].append(time.time() - t)
        engines.append(eng)
    run.phase("table_setup")
    return engines


def drain_figures(facts: list[dict], created_at, busy_s: float) -> dict:
    applied = [f for f in facts if not f["maintenance"] and f["wm_hi"] > f["wm_lo"]]
    lags = event_lags(((f["wm_lo"], f["wm_hi"], f["commit_time"]) for f in applied),
                      created_at)
    return {
        "events": len(lags), "busy_s": busy_s, "batches": len(applied),
        "drain_events_per_s": len(lags) / busy_s,
        "lag_p50_s": percentile(lags, 50),
        "lag_p99_s": percentile(lags, 99),
    }


# -- workloads ---------------------------------------------------------------
def bulk_drain(run: Run, con) -> None:
    reps = max(1, round(run.seconds / BULK_SECONDS_PER_DRAIN))
    landing = run.path("landing")
    write_landing(run.spark, landing, BULK_EVENTS, run.seed)
    run.phase("landing")
    changelog = run.spark.read.parquet(landing)
    warm_up_drain(run, changelog)
    engines = set_up_tables(run, reps, lambda root: make_engine(
        run.spark, root, BULK_BATCH_EVENTS, expectations=GATE_RULES))
    plan = lookup_plan(run, con, landing, BULK_EVENTS, PROBE_LOOKUPS) if run.probe else None
    run.phase("lookup_plan")

    # each repetition drains the whole backlog, present at its own t0,
    # into its own empty table
    drains = []
    run.window = (time.time(), None)
    for eng in engines:
        log = CommitLog(eng.table)
        t0 = time.time()
        eng.run_incremental(changelog, maintenance=False)
        busy = time.time() - t0
        log.collect()
        run.commits.extend(log.facts)
        drains.append(drain_figures(log.facts, lambda v, t0=t0: t0, busy))
        run.attempted += drains[-1]["batches"]
    run.phase("drain")
    read_probe(run, engines[-1].table, log.last_pair(), plan)
    run.window = (run.window[0], time.time())
    run.phase("read_probe")

    run.drain = {k: statistics.median(d[k] for d in drains) for k in drains[0]}
    run.drain["repetitions"] = drains
    expected = oracle.expected_sql(landing, BULK_EVENTS)
    for eng in engines[:-1]:
        verify_state(run, eng.table, con, expected)
    verify(run, engines[-1].table, con, expected)
    run.phase("verify")


def steady_lag(run: Run, con) -> None:
    base = STEADY_PRELOAD + STEADY_WARM_EVENTS
    polls = max(2, round(run.seconds / STEADY_SECONDS_PER_POLL))
    stream_events = int(STEADY_RATE * (STEADY_LEAD_S + polls * STEADY_STREAM_S_PER_POLL))
    landing = run.path("landing")
    write_landing(run.spark, landing, base + stream_events, run.seed)
    run.phase("landing")
    *old, eng = set_up_tables(
        run, TABLE_SETUPS,
        lambda root: make_engine(
            run.spark, root, 10 * stream_events,
            maintenance_interval_batches=STEADY_MAINTENANCE_EVERY,
            expire_keep_last=STEADY_KEEP_SNAPSHOTS),
        lambda eng: eng.backfill(
            run.spark.read.parquet(landing).filter(F.col(VERSION_COL) <= STEADY_PRELOAD),
            capture_version=STEADY_PRELOAD),
    )
    for e in old:
        shutil.rmtree(e.table.root, ignore_errors=True)
    changelog = run.spark.read.parquet(landing)
    warm_up_poll(run, eng, changelog, base)
    plan = lookup_plan(run, con, landing, base, PROBE_LOOKUPS) if run.probe else None
    log = CommitLog(eng.table)
    run.phase("lookup_plan")

    # open loop: event base + i (i >= 1) is created at start + (i - 1) /
    # rate on the wall clock, whether or not the engine keeps up. The
    # source starts one lead interval before the window, so the first
    # poll finds a full batch instead of a single event.
    t0 = time.time()
    run.window = (t0, None)
    start = t0 - STEADY_LEAD_S
    busy = 0.0
    applied_to = base
    for _ in range(polls):
        now = time.time()
        head = base + min(stream_events, int((now - start) * STEADY_RATE) + 1)
        if head <= applied_to:
            time.sleep(max(0.0, start + (applied_to - base) / STEADY_RATE - now))
            head = applied_to + 1
        t = time.time()
        eng.run_incremental(changelog.filter(F.col(VERSION_COL) <= head))
        busy += time.time() - t
        log.collect()
        applied_to = head
    run.phase("open_loop")
    read_probe(run, eng.table, log.last_pair(), plan)
    run.window = (t0, time.time())
    run.phase("read_probe")

    run.commits = log.facts
    run.drain = drain_figures(log.facts,
                              lambda v: start + (v - base - 1) / STEADY_RATE, busy)
    run.attempted += run.drain["batches"]
    run.drain["rate_events_per_s"] = STEADY_RATE
    run.drain["polls"] = polls
    verify(run, eng.table, con,
           oracle.expected_sql(landing, applied_to, raw_text_upto=STEADY_PRELOAD))
    run.phase("verify")


WORKLOADS = {"bulk_drain": bulk_drain, "steady_lag": steady_lag}


def end_to_end(run: Run) -> dict:
    return {
        "setup_s": (run.setup_s(), "s"),
        "drain_events_per_s": (run.drain["drain_events_per_s"], "1/s"),
        "lag_p50_s": (run.drain["lag_p50_s"], "s"),
        "lag_p99_s": (run.drain["lag_p99_s"], "s"),
    }
