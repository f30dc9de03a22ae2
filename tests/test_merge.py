"""J2 — ``plan_merge`` against a pandas model of the reference MERGE
(SURVEY.md §7.4)::

    WHEN MATCHED AND s.op = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *            -- whatever the versions
    WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *

The target holds a column the batch lacks (dropped at the source:
NULL in upserted rows) and the batch a column the target lacks (added:
NULL in kept rows).
"""

import random

import pandas as pd
import pytest
from pyspark.sql import types as T

from arcane_stream_sqlserver_change_tracking_spark.operators.merge import plan_merge

TABLE = T.StructType([
    T.StructField("arcane_merge_key", T.StringType()),
    T.StructField("sys_change_version", T.LongType()),
    T.StructField("a", T.IntegerType()),
    T.StructField("dropped", T.StringType()),
])
BATCH = T.StructType([
    T.StructField("arcane_merge_key", T.StringType()),
    T.StructField("sys_change_version", T.LongType()),
    T.StructField("sys_change_operation", T.StringType()),
    T.StructField("a", T.IntegerType()),
    T.StructField("added", T.DoubleType()),
    T.StructField("__n", T.LongType()),   # a staging column the merge drops
])
EVOLVED = T.StructType(TABLE.fields + [T.StructField("added", T.DoubleType())])
COLS = EVOLVED.fieldNames()


def _case(seed: int):
    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(60)]
    in_table = rng.sample(keys, 35)
    table = [(k, rng.randint(10, 20), rng.randint(0, 99), f"d{k}") for k in in_table]
    # a key stored twice is kept whole unless the batch touches it
    table += [(k, 5, -1, "dup") for k in rng.sample(in_table, 2)]
    batch = []
    for k in rng.sample(keys, 30):
        op = rng.choice("IUD")
        version = rng.randint(1, 30)   # below a matched table row's too
        if op == "D" and rng.random() < 0.5:
            batch.append((k, version, op, None, None, 1))   # NULL payload
        else:
            batch.append((k, version, op, rng.randint(100, 199),
                          rng.random(), rng.randint(1, 3)))
    # pinned: an update below the table row's version, a delete of an
    # absent key, a delete with a NULL payload
    batch = [r for r in batch if r[0] not in (in_table[0], in_table[1], "absent")]
    batch += [(in_table[0], 1, "U", 7, 0.5, 2),
              ("absent", 40, "D", 1, 1.0, 1),
              (in_table[1], 41, "D", None, None, 1)]
    return table, batch


def _model(table, batch) -> pd.DataFrame:
    t = pd.DataFrame(table, columns=TABLE.fieldNames())
    b = pd.DataFrame(batch, columns=BATCH.fieldNames())
    kept = t[~t["arcane_merge_key"].isin(b["arcane_merge_key"])]
    upserts = b[b["sys_change_operation"] != "D"]
    return pd.concat([kept.assign(added=None).astype(object),
                      upserts.assign(dropped=None).astype(object)])[COLS]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return (pdf.astype(object).where(pdf.notna(), None)
            .sort_values(COLS[:3]).reset_index(drop=True))


@pytest.mark.parametrize("seed,num_buckets", [(0, 1), (1, 5), (2, 16), (3, 24)])
def test_plan_merge_matches_merge_model(spark, seed, num_buckets):
    table, batch = _case(seed)
    got = plan_merge(spark.createDataFrame(table, TABLE),
                     spark.createDataFrame(batch, BATCH), EVOLVED, num_buckets)
    assert got.schema == EVOLVED
    pd.testing.assert_frame_equal(_sorted(got.toPandas()), _sorted(_model(table, batch)),
                                  check_dtype=False)
    keys = [r[0] for r in batch]
    assert {"absent", table[1][0]} <= set(keys)
    got_rows = {r["arcane_merge_key"]: r for r in got.collect()}
    assert "absent" not in got_rows and table[1][0] not in got_rows
    # the batch row wins although its version is below the table row's
    assert got_rows[table[0][0]]["sys_change_version"] == 1
    assert got_rows[table[0][0]]["a"] == 7 and got_rows[table[0][0]]["dropped"] is None
