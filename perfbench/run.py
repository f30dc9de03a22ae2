"""CDC apply benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk_drain --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout (never from an installed copy) and runs on ``local[4]`` in this
process. Everything the run writes (landing parquet, lake tables, Spark
local dirs, JVM temp files, the event log) lives under ``.bench_out/`` in
the checkout and is deleted at the end, except the run's report in
``.bench_out/reports/``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer entry points, enables the Spark event log, runs the read
probe and prints the per-layer metrics instead. ``--corrupt 1`` alters one row of the state
the oracle compares, a self-test that must report ``correct: false``.
The last line of standard output is the result object; progress and the
human-readable summary go to standard error.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "arcane_stream_sqlserver_change_tracking_spark"
CPUS = 4
#: a run's directory peaks near 200 MB (landing data, copy-on-write
#: snapshots, shuffle files, the event log); the rest is headroom
MIN_FREE_GB = 2.0


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def check_checkout() -> None:
    """The engine must come from this checkout, and the disk under it
    must have room: the shuffle and the tables are written here, and a
    full disk would fail the run midway instead of up front."""
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        raise SystemExit(f"perfbench: no {PKG}/ package next to {HERE}; "
                         f"run from a full checkout")
    free_gb = shutil.disk_usage(ROOT).free / (1 << 30)
    if free_gb < MIN_FREE_GB:
        raise SystemExit(f"perfbench: only {free_gb:.1f} GB free under {ROOT}; "
                         f"need {MIN_FREE_GB} GB")


def sweep_stale(bench_out: str) -> None:
    """Delete run directories left by runs that were killed: each is
    named after its process id, and a run only deletes its own."""
    for name in os.listdir(bench_out):
        pid = name.rsplit("-", 1)[-1]
        if name == "reports" or not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(bench_out, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by someone else


def prepare_env(out: str) -> None:
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(out, "tmp")
    # keep shuffle files in the checkout: never the shared /dev/shm
    os.environ["SPARK_GRAFT_TMPFS_SHUFFLE"] = "0"
    sys.path.insert(0, ROOT)


def start_session(out: str, trace: bool):
    from arcane_stream_sqlserver_change_tracking_spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(out, "local"),
        # a heap at its full size from the start (no heap growth while
        # timed), and C1 only: in a run this short, C2 compilation never
        # settles, and repeated drains kept getting faster by 5-10% each,
        # so a run measured the JIT's progress; C1 reaches its plateau
        # within the warm-up
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}"
                                          " -Xms2g -XX:TieredStopAtLevel=1"),
        # ship the package to Python workers (the footer-stats
        # mapInPandas job imports it) whatever the working directory
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(out, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="perfbench", cpus=CPUS,
                          shuffle_partitions=3 * CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_drain", "steady_lag"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    check_checkout()
    bench_out = os.path.join(ROOT, ".bench_out")
    reports = os.path.join(bench_out, "reports")
    os.makedirs(reports, exist_ok=True)
    sweep_stale(bench_out)
    out = os.path.join(bench_out, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    prepare_env(out)

    import oracle
    import workloads
    from spans import NullTracer, SPAN_PROPERTY, Tracer

    spark = None
    try:
        log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
        spark = start_session(out, bool(args.trace))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        log("session up")
        sc = spark.sparkContext
        tracer = (Tracer(lambda v: sc.setLocalProperty(SPAN_PROPERTY, v))
                  if args.trace else NullTracer())
        if args.trace:
            tracer.install()
        run = workloads.Run(spark=spark, out=out, seed=args.seed,
                            seconds=args.seconds, tracer=tracer,
                            corrupt=bool(args.corrupt), probe=bool(args.trace))
        run.setup["session"] = time.time() - T_START
        con = oracle.connect()
        workloads.WORKLOADS[args.workload](run, con)
        con.close()
        rss_mb = peak_rss_mb(jvm_pid)
        e2e = workloads.end_to_end(run)
        log(f"window {run.window[1] - run.window[0]:.1f}s, setup {run.setup_s():.1f}s")
        if args.trace:
            tracer.uninstall()
        stop_session(spark)
        spark = None
        log("session stopped")

        if args.trace:
            import eventlog
            import report

            (logfile,) = [os.path.join(out, "eventlog", f)
                          for f in os.listdir(os.path.join(out, "eventlog"))]
            jobs = eventlog.read_jobs(logfile)
            index = eventlog.function_index(os.path.join(ROOT, PKG))
            metrics = report.layer_metrics(run, tracer, jobs, index,
                                           workloads.NUM_BUCKETS)
            metrics["jvm.peak_rss_mb"] = (rss_mb, "MB")
        else:
            metrics = e2e
    except BaseException:
        if spark is not None:
            try:
                stop_session(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(out, ignore_errors=True)
        raise

    correct = all(c["ok"] for c in run.checks)
    failed = 0 if correct else run.attempted
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "correct": correct, "attempted": run.attempted, "failed": failed,
        "error_rate": failed / run.attempted,
        "checks": run.checks, "drain": run.drain, "phases": run.phases,
        "setup": run.setup,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "peak_rss_mb": rss_mb,
        "commits": [{k: v for k, v in c.items() if k != "rows_per_file"}
                    for c in run.commits],
        "absent_wrappers": tracer.absent,
    }
    if args.trace:
        summary["layers"] = {k: v for k, (v, _u) in metrics.items()}
        summary["spans"] = tracer.to_json()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(reports, name), "w") as fh:
        json.dump(summary, fh, indent=1, default=str)
    shutil.rmtree(out, ignore_errors=True)
    for c in run.checks:
        log(f"check {c}")
    log("end-to-end " + json.dumps(summary["end_to_end"]))
    print(result_line(correct, run.attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
