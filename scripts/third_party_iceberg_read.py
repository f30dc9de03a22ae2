"""Third-party Iceberg read of ``export_iceberg_metadata`` output —
VERDICT r4 ask 1: "done = a check where the READER is code this repo
did not write."

Attempts, in the verdict's order:

1. **pyiceberg** — ``StaticTable.from_metadata(<exported json>)``:
   validates the exported format-v2 metadata with the Iceberg
   project's own parser (schema + field ids, bucket partition spec,
   snapshot log, current snapshot), and time-travels the snapshot
   chain to a middle snapshot's schema.
2. **DuckDB iceberg extension** — ``INSTALL iceberg; LOAD iceberg``
   then ``iceberg_scan('<metadata json>')``.
3. **iceberg-spark-runtime jar** — ``IcebergCatalogWriter.mirror``
   into a Hadoop catalog under a temp dir, then row-identity of
   ``spark.read.format("iceberg")`` against ``LakeTable.read`` —
   the full data-plane check (the metadata-only export carries no
   Avro manifests by documented design, plans/iceberg_export.py:25-32,
   so data-file scans go through the runtime mirror).

Every attempt's command/import and exact error are captured; if all
are unavailable the script exits 0 with a ``"blocked"`` JSON report —
the machine-readable record COVERAGE.md K2 cites. Run it on any host
with one of the readers installed and the same script performs the
actual validation. Exit 1 = a reader WAS available and the check
failed (a real interop bug).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe_readers() -> dict:
    """Try each third-party reader; record availability + exact error."""
    out: dict = {}

    try:
        import pyiceberg  # noqa: F401
        from pyiceberg.table import StaticTable  # noqa: F401

        out["pyiceberg"] = {"available": True,
                            "attempt": "import pyiceberg.table.StaticTable",
                            "error": None}
    except Exception as e:  # noqa: BLE001
        out["pyiceberg"] = {"available": False,
                            "attempt": "import pyiceberg.table.StaticTable",
                            "error": f"{type(e).__name__}: {e}"}

    try:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("LOAD iceberg")
        except Exception:
            con.execute("INSTALL iceberg")
            con.execute("LOAD iceberg")
        out["duckdb_iceberg"] = {"available": True,
                                 "attempt": "duckdb INSTALL iceberg; LOAD iceberg",
                                 "error": None}
    except Exception as e:  # noqa: BLE001
        out["duckdb_iceberg"] = {"available": False,
                                 "attempt": "duckdb INSTALL iceberg; LOAD iceberg",
                                 "error": f"{type(e).__name__}: {e}"}

    try:
        jars = []
        spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
        jar_dir = os.path.join(spark_home, "jars")
        if os.path.isdir(jar_dir):
            jars = [j for j in os.listdir(jar_dir) if "iceberg" in j.lower()]
        out["spark_runtime_jar"] = {
            "available": bool(jars),
            "attempt": f"scan {jar_dir} for iceberg-spark-runtime*.jar",
            "error": None if jars else "no iceberg jar on the Spark classpath",
            "jars": jars,
        }
    except Exception as e:  # noqa: BLE001
        out["spark_runtime_jar"] = {"available": False,
                                    "attempt": "scan $SPARK_HOME/jars",
                                    "error": f"{type(e).__name__}: {e}"}
    return out


def build_fixture(spark, root: str):
    """Multi-snapshot, schema-evolved, bucket-partitioned table: three
    committed batches with a column (``tool``) added between the first
    and second — the exact shape the verdict asks a third-party reader
    to understand. Returns (table, [snapshot ids oldest→newest])."""
    from pyspark.sql import types as T

    from arcane_stream_sqlserver_change_tracking_spark.functions.keys import (
        OPERATION_COL,
        VERSION_COL,
    )
    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable
    from arcane_stream_sqlserver_change_tracking_spark.streaming.runner import (
        CdcEngine,
        EngineOptions,
    )

    table = LakeTable(spark, root)
    eng = CdcEngine(spark, table, EngineOptions(num_buckets=4))
    payload = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ])
    eng.bootstrap(payload)

    base = "sys_change_version long, sys_change_operation string, " \
           "conv_id string, turn_idx int, text string"
    b1 = spark.createDataFrame(
        [(i, "I", f"c{i % 7}", i % 5, f"t{i}") for i in range(1, 41)], base)
    eng.run_incremental(b1)
    evolved = base + ", tool string"
    b2 = spark.createDataFrame(
        [(i, "U", f"c{i % 7}", i % 5, f"u{i}", f"tool{i % 3}")
         for i in range(41, 81)], evolved)
    eng.run_incremental(b2)
    b3 = spark.createDataFrame(
        [(i, "D" if i % 4 == 0 else "U", f"c{i % 7}", i % 5, f"v{i}", None)
         for i in range(81, 121)], evolved)
    eng.run_incremental(b3)
    return table, list(table.snapshot_log())


def validate_with_pyiceberg(metadata_path: str, table, snaps) -> dict:
    """Parse the exported metadata with pyiceberg's own reader and
    cross-check schema / partition spec / snapshot chain, including the
    middle snapshot (time travel through the log)."""
    from pyiceberg.table import StaticTable

    t = StaticTable.from_metadata(metadata_path)
    res = {"reader": "pyiceberg"}

    ice_fields = {f.name for f in t.schema().fields}
    lake_fields = set(table.schema().fieldNames())
    assert ice_fields == lake_fields, (ice_fields, lake_fields)
    res["schema_fields_match"] = True

    spec = t.spec()
    assert len(spec.fields) == 1 and "bucket" in str(spec.fields[0].transform), spec
    res["bucket_partition_spec_match"] = True

    ice_snaps = sorted(s.snapshot_id for s in t.snapshots())
    assert ice_snaps == sorted(snaps), (ice_snaps, snaps)
    mid = snaps[len(snaps) // 2]
    mid_snap = t.snapshot_by_id(mid)
    assert mid_snap is not None
    # middle snapshot predates the `tool` column: its schema-id must
    # resolve to a schema WITHOUT it, current must have it
    mid_schema = next(s for s in t.schemas().values()
                      if s.schema_id == mid_snap.schema_id)
    res["time_travel_mid_snapshot"] = {
        "snapshot_id": mid,
        "schema_id": mid_snap.schema_id,
        "has_tool_column": "tool" in {f.name for f in mid_schema.fields},
    }
    res["ok"] = True
    return res


def validate_with_duckdb(metadata_path: str, table, snaps) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute("LOAD iceberg")
    n = con.execute(
        "SELECT count(*) FROM iceberg_scan(?)", [metadata_path]
    ).fetchone()[0]
    lake_n = table.read().count()
    assert n == lake_n, (n, lake_n)
    return {"reader": "duckdb_iceberg", "rows": n, "ok": True}


def validate_with_spark_jar(spark, table, snaps, workdir: str) -> dict:
    """Full data-plane check: mirror into a Hadoop catalog via the
    runtime, read back with spark.read.format('iceberg'), assert
    row-identity with LakeTable.read."""
    from arcane_stream_sqlserver_change_tracking_spark.plans.iceberg_export import (
        IcebergCatalogWriter,
    )

    cat = os.path.join(workdir, "warehouse")
    spark.conf.set("spark.sql.catalog.lake",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.lake.type", "hadoop")
    spark.conf.set("spark.sql.catalog.lake.warehouse", cat)
    ident = IcebergCatalogWriter(spark, "lake", "cdc").mirror(table, "t")
    cols = sorted(table.read().columns)
    got = {tuple(r) for r in spark.table(ident).select(*cols).collect()}
    want = {tuple(r) for r in table.read().select(*cols).collect()}
    assert got == want and got
    return {"reader": "iceberg-spark-runtime", "rows": len(got), "ok": True}


def main() -> int:
    report: dict = {"check": "third_party_iceberg_read",
                    "readers": probe_readers()}
    available = [k for k, v in report["readers"].items() if v["available"]]
    if not available:
        report["status"] = "blocked"
        report["note"] = ("no third-party Iceberg reader installable in this "
                          "environment (no network); re-run this script on a "
                          "host with pyiceberg, the DuckDB iceberg extension, "
                          "or an iceberg-spark-runtime jar")
        print(json.dumps(report, indent=1))
        return 0

    from arcane_stream_sqlserver_change_tracking_spark.plans.iceberg_export import (
        export_iceberg_metadata,
    )
    from arcane_stream_sqlserver_change_tracking_spark.session import build_session

    spark = build_session(cpus=8)
    workdir = tempfile.mkdtemp(prefix="iceberg-interop-")
    table, snaps = build_fixture(spark, os.path.join(workdir, "lake"))
    metadata_path = export_iceberg_metadata(
        table, os.path.join(workdir, "export"))
    report["results"] = []
    rc = 0
    for name in available:
        try:
            if name == "pyiceberg":
                report["results"].append(
                    validate_with_pyiceberg(metadata_path, table, snaps))
            elif name == "duckdb_iceberg":
                report["results"].append(
                    validate_with_duckdb(metadata_path, table, snaps))
            elif name == "spark_runtime_jar":
                report["results"].append(
                    validate_with_spark_jar(spark, table, snaps, workdir))
        except Exception as e:  # noqa: BLE001
            report["results"].append(
                {"reader": name, "ok": False,
                 "error": f"{type(e).__name__}: {e}"})
            rc = 1
    report["status"] = "ok" if rc == 0 else "failed"
    print(json.dumps(report, indent=1))
    return rc


if __name__ == "__main__":
    sys.exit(main())
