"""Incremental near-duplicate ingestion: a MAINTAINED MinHash-LSH band
index that turns fuzzy dedup into an O(batch) ingest-time filter.

The CDC path already dedupes exactly at ingest (content-hash merge key,
tests/test_corpus.py); NEAR-dup dedup previously required a periodic
full-corpus LSH job (operators/corpus.py minhash_lsh_dedup). At 100 TB
that rerun is the most expensive job in the pipeline and its cost grows
with the corpus, not the increment. This module keeps the corpus's LSH
band table as a durable, bucket-partitioned dataset so each new batch
is filtered against *only the band buckets it touches*:

* per batch: shingle → minhash → band rows (the exact md5-derived,
  engine-independent pipeline from operators/corpus.py — same
  signatures the DuckDB oracle computes);
* lookup: the batch's band rows name the index buckets they can
  possibly match (``bucket = md5-prefix(band_hash) mod B``, a partition
  column) — the candidate join reads O(touched buckets) of the index,
  never the whole table, and is a plain equi-join on
  (band_idx, band_hash);
* verify: estimated Jaccard = fraction of equal signature components,
  computed JVM-side (``zip_with``/``aggregate``) from the signature
  stored inline on each band row;
* decide: a new doc is DROPPED when it verifies ≥ threshold against any
  previously seen doc (kept or dropped — "seen" semantics, see below)
  or any lower-id doc in its own batch;
* update: ALL of the batch's band rows (with their kept flag) are
  appended under ``batch_label=<label>`` partitions via dynamic
  partition overwrite — replaying a crashed batch overwrites its own
  partitions byte-identically instead of duplicating them.

Precedence semantics — "similar to any earlier doc drops you, even if
that doc was itself dropped" (all signatures are indexed, not just
kept ones). This is deliberately the batch-boundary-invariant rule:
with monotone doc ids the final kept set equals the one-shot statement
"kept(d) ⇔ no doc with lower id verifies ≥ threshold against d",
which a plain SQL oracle can state — no greedy sequential dependence —
and which cannot change when the same stream is re-chunked into
different batch sizes. (The alternative — index only kept docs — is a
greedy maximal-independent-set whose result depends on batch
boundaries.) Chains a~b~c with a≁c therefore collapse to {a}, the
conservative C4-style choice.

Replay safety: lookups exclude the current batch label, so recomputing
a batch AFTER its band rows were written yields the identical decision
(a doc never matches its own batch's index rows); the only
self-matches possible are ``old.doc_id == new.doc_id`` from a previous
run of the same doc, which are filtered explicitly.

Storage trade-off: the signature rides inline on every band row, so it
is duplicated ``num_bands`` times per doc (≈ num_bands · num_perms ·
33 B ≈ 2 KB/doc at the 16×4 defaults — small next to the documents
themselves). The normalized alternative (separate doc-keyed signature
table) saves that factor but adds a second large-table shuffle to
every verify; at 100 TB the extra storage is the right trade.

Reference scope: the reference engine has no fuzzy dedup — this is
part of the training-data extension surface (SURVEY.md §2 additions),
composed from the same operators the full-corpus path uses.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import char_shingles, lsh_bands, minhash_signatures

_PARAMS_FILE = "_index.json"
_LABEL = "batch_label"
_BUCKET = "bucket"


def _bucket_expr(band_hash_col, buckets: int):
    """Engine-independent bucket from the md5 band hash: first 8 hex
    chars → bigint → pmod. Deterministic across engines and runs."""
    return F.pmod(F.conv(F.substring(band_hash_col, 1, 8), 16, 10)
                  .cast("long"), F.lit(buckets))


class NearDupIndex:
    """Durable LSH band index for ingest-time near-dup filtering.

    ``path`` holds ``batch_label=<l>/bucket=<b>/`` parquet partitions
    plus a params sidecar; reopening with different parameters fails
    fast (signatures would be incomparable).
    """

    def __init__(
        self,
        path: str,
        *,
        shingle_k: int = 8,
        num_perms: int = 16,
        num_bands: int = 4,
        threshold: float = 0.5,
        buckets: int = 16,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        if num_perms % num_bands:
            raise ValueError("num_perms must be divisible by num_bands")
        self.path = path
        # text_col/id_col are index-level, not per-call: mixed id
        # columns would write divergent schemas into one dataset, so
        # they live in the sidecar and are guarded like every other
        # parameter.
        self.params = {
            "shingle_k": shingle_k, "num_perms": num_perms,
            "num_bands": num_bands, "threshold": threshold,
            "buckets": buckets, "text_col": text_col, "id_col": id_col,
        }
        os.makedirs(path, exist_ok=True)
        sidecar = os.path.join(path, _PARAMS_FILE)
        if os.path.exists(sidecar):
            stored = json.load(open(sidecar))
            if stored != self.params:
                raise ValueError(
                    f"index at {path} was built with {stored}, "
                    f"reopened with {self.params}")
        else:
            tmp = sidecar + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.params, f)
            os.replace(tmp, sidecar)

    # ------------------------------------------------------------------
    def _has_data(self) -> bool:
        return any(e.startswith(f"{_LABEL}=") for e in os.listdir(self.path))

    def _read(self, spark: SparkSession) -> DataFrame | None:
        if not self._has_data():
            return None
        return spark.read.parquet(self.path)

    def _band_rows(self, batch: DataFrame, text_col: str,
                   id_col: str) -> DataFrame:
        p = self.params
        sig = minhash_signatures(
            char_shingles(batch, text_col, id_col, k=p["shingle_k"]),
            num_perms=p["num_perms"], id_col=id_col)
        sig = sig.withColumn(
            "sig", F.array(*[F.col(f"mh{i}") for i in range(p["num_perms"])]))
        bands = lsh_bands(sig.drop("sig"), num_perms=p["num_perms"],
                          num_bands=p["num_bands"], id_col=id_col)
        # lsh_bands projects away the mh columns; re-attach the packed
        # signature by id (batch-sized join, AQE broadcasts it)
        return (
            bands.join(sig.select(id_col, "sig"), on=id_col)
            .withColumn(_BUCKET,
                        _bucket_expr(F.col("band_hash"), p["buckets"]))
        )

    def _verified(self, new_bands: DataFrame, old_bands: DataFrame,
                  id_col: str, *, precedence: str) -> DataFrame:
        """Doc ids from ``new_bands`` that verify ≥ threshold against a
        qualifying row of ``old_bands`` (candidate = shared band
        bucket). ``precedence="any"``: any distinct old doc qualifies
        (index lookup — arrival order IS the precedence).
        ``precedence="lower_id"``: only lower-id old docs qualify
        (in-batch self-comparison)."""
        p = self.params
        new = new_bands.select(F.col(id_col).alias("__new_id"),
                               "band_idx", "band_hash",
                               F.col("sig").alias("__new_sig"))
        old = old_bands.select(F.col(id_col).alias("__old_id"),
                               "band_idx", "band_hash",
                               F.col("sig").alias("__old_sig"))
        qualifies = (F.col("__old_id") < F.col("__new_id")
                     if precedence == "lower_id"
                     else F.col("__old_id") != F.col("__new_id"))
        est = (
            F.aggregate(
                F.zip_with("__new_sig", "__old_sig",
                           lambda x, y: (x == y).cast("int")),
                F.lit(0), lambda acc, v: acc + v)
            / F.lit(p["num_perms"])
        )
        return (
            new.join(old, on=["band_idx", "band_hash"])
            .where(qualifies)
            .where(est >= F.lit(p["threshold"]))
            .select(F.col("__new_id").alias(id_col))
            .distinct()
        )

    # ------------------------------------------------------------------
    def filter_batch(self, batch: DataFrame, label: str) -> DataFrame:
        """Filter ``batch`` against everything previously seen AND
        against lower-id rows of the batch itself, then append the
        batch's band rows (with kept flags) to the index. Returns the
        kept rows of ``batch``. Idempotent per ``label``: a replay
        overwrites its own partitions and returns the same rows.

        A doc with null text gets an all-null signature that verifies
        against nothing, so it is kept. A null id cannot be recorded or
        joined back, so it fails the batch before anything is written."""
        spark = batch.sparkSession
        text_col = self.params["text_col"]
        id_col = self.params["id_col"]
        if batch.where(F.col(id_col).isNull()).limit(1).count():
            raise ValueError(
                f"filter_batch({label!r}): null {id_col!r} in the batch; "
                f"every doc needs an id")
        # the band pipeline (shingle explode + 16 md5-min groupBy) is
        # the batch's dominant cost and feeds FOUR consumers (both
        # sides of the in-batch self-join, the index lookup, the
        # decided re-join) plus the touched-bucket collect — persist
        # so it is computed once, not per consumer
        bands = self._band_rows(batch, text_col, id_col).persist()
        try:
            # in-batch precedence: lower id wins
            dropped = self._verified(bands, bands, id_col,
                                     precedence="lower_id")
            idx = self._read(spark)
            if idx is not None:
                # touched-bucket pruning: the collect is bounded by the
                # bucket count (a constructor parameter), not the data
                touched = [r[0] for r in
                           bands.select(_BUCKET).distinct().collect()]
                old = idx.where((F.col(_LABEL) != label)
                                & F.col(_BUCKET).isin(touched))
                dropped = dropped.unionByName(
                    self._verified(bands, old, id_col,
                                   precedence="any")).distinct()

            decided = bands.join(
                dropped.withColumn("__dropped", F.lit(True)),
                on=id_col, how="left")
            out = decided.select(
                id_col, "band_idx", "band_hash", "sig", _BUCKET,
                (~F.coalesce(F.col("__dropped"), F.lit(False)))
                .alias("kept"),
                F.lit(label).alias(_LABEL),
            )
            (out.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(_LABEL, _BUCKET)
             .parquet(self.path))
        finally:
            bands.unpersist()

        kept_ids = (
            spark.read.parquet(self.path)
            .where((F.col(_LABEL) == label) & F.col("kept"))
            .select(id_col).distinct()
        )
        return batch.join(kept_ids, on=id_col, how="inner")

    # ------------------------------------------------------------------
    def decisions(self, spark: SparkSession) -> DataFrame:
        """All (id, kept, batch_label) decisions recorded so far."""
        idx = self._read(spark)
        if idx is None:
            raise ValueError(f"index at {self.path} has no batches yet")
        return idx.select(self.params["id_col"], "kept", _LABEL).distinct()
