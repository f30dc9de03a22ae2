"""Incremental near-dup ingest index: batch-boundary invariance vs the
one-shot rule, replay idempotence, touched-bucket pruning, and the
parameter sidecar guard."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row, functions as F

from arcane_stream_sqlserver_change_tracking_spark.operators.neardup_index import (
    NearDupIndex,
)

# Ten docs: 1~2~3 a near-dup chain (all drop to 1), 4 unique, 5~6 a
# pair split across batches, 7-10 unique. Long repeated texts so the
# 16-perm signatures actually agree.
_BASE = "the quick brown fox jumps over the lazy dog again and again "
_DOCS = [
    (1, _BASE * 6),
    (2, _BASE * 6 + "tail one"),
    (3, _BASE * 6 + "tail two!"),
    (4, "completely different content about spark shuffles " * 8),
    (5, "incremental lsh band index maintained at ingest time " * 7),
    (6, "incremental lsh band index maintained at ingest time " * 7 + "x"),
    (7, "seventh document with its own unrelated words " * 8),
    (8, "eighth document discussing parquet bucket pruning " * 8),
    (9, "ninth document on watermark semantics in cdc " * 8),
    (10, "tenth document, entirely fresh material here " * 8),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(_DOCS, ["doc_id", "text"])


def _drain(docs, path, splits):
    idx = NearDupIndex(path, num_perms=16, num_bands=4, threshold=0.5,
                       buckets=8)
    kept = []
    for i, (lo, hi) in enumerate(splits):
        batch = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
        out = idx.filter_batch(batch, f"b{i}")
        kept += [r.doc_id for r in out.select("doc_id").collect()]
    return idx, sorted(kept)


def _one_shot_kept(docs):
    """The rule the index implements: kept(d) ⇔ no lower-id doc
    verifies ≥ threshold. Computed via a single-batch drain."""
    path = tempfile.mkdtemp()
    try:
        _, kept = _drain(docs, path, [(1, 10)])
        return kept
    finally:
        shutil.rmtree(path)


def test_batch_boundary_invariance(docs, tmp_path):
    one_shot = _one_shot_kept(docs)
    for splits in ([(1, 3), (4, 6), (7, 10)], [(1, 5), (6, 10)],
                   [(1, 1), (2, 4), (5, 8), (9, 10)]):
        p = str(tmp_path / f"idx_{len(splits)}")
        _, kept = _drain(docs, p, splits)
        assert kept == one_shot, splits


def test_expected_semantics(docs, tmp_path):
    _, kept = _drain(docs, str(tmp_path / "idx"), [(1, 4), (5, 10)])
    # chain 1~2~3 collapses to 1; 6 drops against 5 across the batch
    # boundary; everything else survives
    assert kept == [1, 4, 5, 7, 8, 9, 10]


def test_replay_is_idempotent(docs, tmp_path, spark):
    p = str(tmp_path / "idx")
    idx, _ = _drain(docs, p, [(1, 5), (6, 10)])
    before = idx.decisions(spark).orderBy("doc_id").collect()
    # replay the SECOND batch after its rows are already indexed
    batch2 = docs.where(F.col("doc_id") >= 6)
    replay_kept = sorted(
        r.doc_id for r in idx.filter_batch(batch2, "b1").collect())
    assert replay_kept == [7, 8, 9, 10]
    after = idx.decisions(spark).orderBy("doc_id").collect()
    assert before == after  # no duplicate rows, same decisions


def test_dropped_docs_still_drop_later_similars(spark, tmp_path):
    # c is similar to b but not to a; b was dropped against a — "seen"
    # semantics still drops c (batch-boundary-invariant rule)
    a = "alpha " * 40 + "unique head segment one two three four five "
    b = a + "zz"
    c = b + " completely new trailing clause appended here!!"
    docs = spark.createDataFrame([(1, a), (2, b), (3, c)],
                                 ["doc_id", "text"])
    idx = NearDupIndex(str(tmp_path / "idx"), num_perms=16, num_bands=4,
                       threshold=0.5, buckets=8)
    k1 = idx.filter_batch(docs.where("doc_id <= 2"), "b0")
    assert [r.doc_id for r in k1.collect()] == [1]
    k2 = idx.filter_batch(docs.where("doc_id = 3"), "b1")
    got = [r.doc_id for r in k2.collect()]
    # c must be dropped iff it verifies against b; assert consistency
    # with the one-shot rule on the same three docs
    one = NearDupIndex(str(tmp_path / "one"), num_perms=16, num_bands=4,
                       threshold=0.5, buckets=8)
    one_kept = [r.doc_id
                for r in one.filter_batch(docs, "all").select("doc_id")
                .collect()]
    assert sorted(got) == sorted(x for x in one_kept if x == 3)


def test_lookup_reads_only_touched_buckets(docs, tmp_path, spark):
    p = str(tmp_path / "idx")
    idx = NearDupIndex(p, num_perms=16, num_bands=4, threshold=0.5,
                       buckets=8)
    idx.filter_batch(docs.where("doc_id <= 8"), "b0")
    # pick one stored bucket and pretend the batch touches only it:
    # the scan must read strictly fewer files than the full index
    all_files = set(spark.read.parquet(p).inputFiles())
    stored = sorted(r[0] for r in spark.read.parquet(p)
                    .select("bucket").distinct().collect())
    assert len(stored) > 1  # pruning has something to prune
    lookup = spark.read.parquet(p).where(F.col("bucket") == stored[0])
    pruned_files = set(
        f for f in all_files if f"bucket={stored[0]}/" in f)
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    # the bucket predicate lands in PartitionFilters (dir pruning),
    # not PushedFilters (row-group pruning after reading the file)
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert lookup.count() == spark.read.parquet(p).where(
        F.col("bucket") == stored[0]).count()
    assert len(pruned_files) < len(all_files)


def test_param_mismatch_fails_fast(tmp_path):
    p = str(tmp_path / "idx")
    NearDupIndex(p, num_perms=16, num_bands=4)
    with pytest.raises(ValueError, match="was built with"):
        NearDupIndex(p, num_perms=32, num_bands=4)
    # id/text columns are index-level too: mixed id columns would
    # write divergent schemas into one dataset
    with pytest.raises(ValueError, match="was built with"):
        NearDupIndex(p, num_perms=16, num_bands=4, id_col="content_id")


def test_bad_band_split_rejected(tmp_path):
    with pytest.raises(ValueError, match="divisible"):
        NearDupIndex(str(tmp_path / "idx"), num_perms=16, num_bands=5)


def test_null_text_docs_are_kept(spark, tmp_path):
    """A doc with null text has an all-null signature that verifies
    against nothing: it is kept, in its own batch and against the index
    (null-text docs share their band hashes)."""
    idx = NearDupIndex(str(tmp_path / "idx"), num_perms=16, num_bands=4,
                       threshold=0.5, buckets=8)
    rows = [(1, _BASE * 6), (2, None), (3, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert sorted(r.doc_id for r in idx.filter_batch(docs, "b0").collect()) \
        == [1, 2, 3]
    later = spark.createDataFrame([(4, None), (5, _BASE * 6 + "tail one")],
                                  "doc_id long, text string")
    assert [r.doc_id for r in idx.filter_batch(later, "b1").collect()] == [4]


def test_null_doc_id_fails_fast(spark, tmp_path):
    p = tmp_path / "idx"
    idx = NearDupIndex(str(p), num_perms=16, num_bands=4, threshold=0.5,
                       buckets=8)
    docs = spark.createDataFrame([(1, _BASE), (None, _BASE + "x")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError, match="null 'doc_id'"):
        idx.filter_batch(docs, "b0")
    # nothing was recorded for the failed batch
    assert not any(n.startswith("batch_label=") for n in os.listdir(p))
