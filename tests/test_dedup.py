"""W1 — net-change dedup (one map-side-combined agg), including hot-key
skew and intra-batch multi-change keys (reference contract: MERGE source
must have at most one row per key, SURVEY.md §2.3)."""

import pytest
from pyspark.sql import functions as F

from arcane_stream_sqlserver_change_tracking_spark.functions.keys import (
    MERGE_KEY_COL,
    OPERATION_COL,
    VERSION_COL,
)
from arcane_stream_sqlserver_change_tracking_spark.operators.dedup import latest_change_per_key


def _changelog(spark, rows):
    return spark.createDataFrame(
        rows, f"{MERGE_KEY_COL} string, {VERSION_COL} long, {OPERATION_COL} string, payload string"
    )


ROWS = [
    ("k1", 1, "I", "a"),
    ("k1", 5, "U", "b"),
    ("k1", 3, "U", "c"),
    ("k2", 2, "I", "d"),
    ("k3", 4, "I", "e"),
    ("k3", 6, "D", None),
]


def test_latest_per_key(spark):
    df = _changelog(spark, ROWS)
    # count_col: how many input rows each key had
    got = {
        r[MERGE_KEY_COL]: (r[VERSION_COL], r[OPERATION_COL], r["payload"], r["n"])
        for r in latest_change_per_key(df, count_col="n").collect()
    }
    assert got == {"k1": (5, "U", "b", 3), "k2": (2, "I", "d", 1), "k3": (6, "D", None, 2)}


def test_hot_key_skew(spark):
    # one key holds 90% of a 50k-row batch — map-side combine absorbs it
    n = 50_000
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
                F.concat(F.lit("k"), (F.col("id") % 1000).cast("string"))
            ).alias(MERGE_KEY_COL),
            (F.col("id") + 1).alias(VERSION_COL),
            F.lit("U").alias(OPERATION_COL),
            F.col("id").cast("string").alias("payload"),
        )
    )
    out = latest_change_per_key(df)
    rows = {r[MERGE_KEY_COL]: r[VERSION_COL] for r in out.collect()}
    # max hot id is 49998 (49999 % 10 == 9 is non-hot) -> version 49999
    assert rows["hot"] == n - 1
    # exactly one row per key
    assert out.groupBy(MERGE_KEY_COL).count().filter("count > 1").count() == 0


# ---------------------------------------------------------------------------
# similarity-family quality harnesses (LSH near-dup recall, ANN recall@k,
# k-means centroid option)
# ---------------------------------------------------------------------------

def test_lsh_near_dup_full_recall_on_corpus(spark, sf_dir):
    """The bucketed LSH near-dup must be a verified superset→equal of
    the exact all-pairs operator on the test corpus at the driver-query
    parameters (VERDICT r1 item 3)."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["a"], r["b"]) for r in
        embedding_near_dup_pairs(emb, threshold=0.45).collect()
    }
    lsh = {
        (r["a"], r["b"]) for r in
        embedding_near_dup_lsh(
            emb, threshold=0.45, num_planes=48, num_bands=16, dim=64
        ).collect()
    }
    assert exact, "corpus must contain near-dup pairs at this threshold"
    # LSH verifies candidates with the exact cosine, so lsh ⊆ exact
    # always; full recall on this corpus makes them equal
    assert lsh == exact


def test_lsh_plan_is_bucketed_equi_join(spark, sf_dir):
    """The candidate join must be a hash/sort-merge equi-join — never a
    BroadcastNestedLoop/cartesian like the exact all-pairs baseline."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    import re

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = embedding_near_dup_lsh(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the candidate join itself must be keyed on the band columns
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[band_idx", plan
    )
    # the only nested-loop joins allowed are the two one-row plane
    # attaches (a-side and b-side signatures) — O(n·1) broadcasts
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_ivf_recall_at_k(spark, sf_dir):
    """ANN quality metric: probed IVF top-k vs exact brute-force top-k.
    With stride centroids and nprobe=3 on this corpus the probed search
    must recover most true neighbors."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = brute_force_topk(emb, F.col("vec_id") < 20, k=5).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}

    def recall(nprobe: int) -> float:
        ann = ivf_topk(emb, F.col("vec_id") < 20, k=5, nprobe=nprobe).collect()
        found = {(r["query_id"], r["neighbor_id"]) for r in ann}
        return len(truth & found) / len(truth)

    # measured 0.48 at nprobe=3/10 centroids on sf0.001 — genuinely
    # approximate; more probes probe a superset of buckets, so recall is
    # monotone in nprobe and reaches 1.0 when all buckets are probed
    r3, r5, r_all = recall(3), recall(5), recall(10)
    assert r3 >= 0.4, f"recall@5 {r3:.2f} below floor"
    assert r5 >= r3
    assert r_all == 1.0


def test_kmeans_centroids_option(spark, sf_dir):
    """centroids_mode='kmeans' must run (Lloyd refinement over the
    stride init) and assign every vector to a valid centroid id."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        ivf_assign,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    out = ivf_assign(emb, centroid_stride=50, centroids_mode="kmeans",
                     kmeans_iters=2)
    rows = out.collect()
    assert len(rows) == 200
    cids = {r["centroid_id"] for r in rows}
    assert cids and all(c % 50 == 0 for c in cids)
    with pytest.raises(ValueError, match="centroids_mode"):
        ivf_assign(emb, centroids_mode="nope").collect()


def test_ivf_topk_accepts_precomputed_assignment(spark, sf_dir):
    """At scale the (vec_id, centroid_id) assignment is a materialized
    table probed by many queries — passing it in must equal the inline
    derivation."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    inline = ivf_topk(emb, F.col("vec_id") < 5, k=3, nprobe=2).collect()
    assign = ivf_assign(emb, centroid_stride=50)
    pre = ivf_topk(emb, F.col("vec_id") < 5, k=3, nprobe=2, assign=assign).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, pre))


def test_lsh_bands_reject_indivisible_planes(spark):
    """num_planes not divisible by num_bands would silently drop the
    trailing hyperplanes — must raise instead."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        lsh_signature_bands,
    )

    df = spark.range(1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
    )
    with pytest.raises(ValueError, match="divisible"):
        lsh_signature_bands(df, num_planes=50, num_bands=16, dim=2)


def test_semantic_dedup_semantics(spark, sf_dir):
    """SemDeDup invariants: (1) every surviving vector has NO
    lower-id near-dup within its cluster; (2) every dropped vector HAS
    one; (3) per-cluster minimum ids always survive; (4) with an
    impossible threshold nothing is dropped."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        cosine_sim,
        ivf_assign,
        semantic_dedup,
        with_double_vec,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign = ivf_assign(emb, centroid_stride=50)
    kept = semantic_dedup(emb, threshold=0.3, centroid_stride=50)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    all_ids = {r["vec_id"] for r in assign.collect()}
    assert set(r["vec_id"] for r in kept.collect()) <= all_ids

    # recompute within-cluster near-dup pairs directly
    member = assign.join(with_double_vec(emb).select("vec_id", "vec"), "vec_id")
    a = member.selectExpr("vec_id as a", "centroid_id", "vec as avec")
    b = member.selectExpr("vec_id as b", "centroid_id", "vec as bvec")
    pairs = (a.join(b, "centroid_id").filter("a < b")
             .withColumn("sim", F.round(cosine_sim(F.col("avec"),
                                                   F.col("bvec")), 9))
             .filter("sim >= 0.3").select("a", "b").collect())
    has_lower_dup = {p["b"] for p in pairs}
    assert kept_ids == all_ids - has_lower_dup
    assert len(kept_ids) < len(all_ids)  # the threshold actually bites

    # per-cluster min id always survives
    for r in assign.groupBy("centroid_id").agg(
            F.min("vec_id").alias("m")).collect():
        assert r["m"] in kept_ids

    # threshold > 1 → cosine can never reach it → identity
    assert semantic_dedup(emb, threshold=1.1).count() == len(all_ids)


def test_semantic_dedup_accepts_precomputed_assignment(spark, sf_dir):
    """Materialized (id, centroid_id) in, identical survivors out —
    the ivf_topk contract, reused so a lake-bucketed assignment is
    computed once, not three times per dedup run."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        ivf_assign,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pre = ivf_assign(emb, centroid_stride=50).cache()
    try:
        got = semantic_dedup(emb, threshold=0.3, assign=pre)
        ref = semantic_dedup(emb, threshold=0.3, centroid_stride=50)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect()))
    finally:
        pre.unpersist()


def test_semantic_dedup_min_centroid_sim_keep_rule(spark, sf_dir):
    """keep='min_centroid_sim' (the paper's diversity rule): a vector
    is dropped iff some cluster-mate with LOWER (centroid_sim, id) is
    near-duplicate to it. Verified against a direct recomputation."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.similarity import (
        cosine_sim,
        ivf_assign,
        semantic_dedup,
        with_double_vec,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kept = {r["vec_id"] for r in semantic_dedup(
        emb, threshold=0.3, centroid_stride=50,
        keep="min_centroid_sim").collect()}

    assign = ivf_assign(emb, centroid_stride=50)
    vecs = with_double_vec(emb).select("vec_id", "vec")
    cent = vecs.filter("vec_id % 50 = 0").selectExpr(
        "vec_id as centroid_id", "vec as cvec")
    member = (assign.join(vecs, "vec_id").join(cent, "centroid_id")
              .select("vec_id", "centroid_id", "vec",
                      F.round(cosine_sim(F.col("vec"), F.col("cvec")), 9)
                      .alias("csim")))
    rows = member.collect()
    prio = {r["vec_id"]: (r["csim"], r["vec_id"]) for r in rows}
    a = member.selectExpr("vec_id as a", "centroid_id", "vec as avec")
    b = member.selectExpr("vec_id as b", "centroid_id", "vec as bvec")
    pairs = (a.join(b, "centroid_id").filter("a < b")
             .withColumn("sim", F.round(cosine_sim(F.col("avec"),
                                                   F.col("bvec")), 9))
             .filter("sim >= 0.3").select("a", "b").collect())
    dropped = set()
    for p in pairs:  # either direction: the higher-priority one drops the other
        x, y = p["a"], p["b"]
        dropped.add(y if prio[x] < prio[y] else x)
    assert kept == {r["vec_id"] for r in rows} - dropped

    # keep rules agree on dup-free input, differ in WHICH dup survives
    ids_all = semantic_dedup(emb, threshold=1.1, keep="min_centroid_sim")
    assert ids_all.count() == len(rows)

    with pytest.raises(ValueError, match="unknown keep rule"):
        semantic_dedup(emb, keep="random")
    with pytest.raises(ValueError, match="min_centroid_sim"):
        semantic_dedup(emb, keep="min_centroid_sim", centroids_mode="kmeans")


# ------------------------------------------------- top-k per key (r5)

def test_top_k_per_key_values_and_ties(spark):
    from arcane_stream_sqlserver_change_tracking_spark.operators.dedup import (
        top_k_per_key,
    )

    df = spark.createDataFrame(
        [("a", 10, 1), ("a", 30, 2), ("a", 20, 3), ("a", 30, 4),
         ("b", 5, 5)],
        ["k", "v", "id"])
    out = top_k_per_key(df, "k", "v", 2, tiebreak="id", rank_col="r")
    got = sorted((r.k, r.v, r.id, r.r) for r in out.collect())
    # tie at v=30 resolved by id asc: id=2 ranks before id=4
    assert got == [("a", 30, 2, 1), ("a", 30, 4, 2), ("b", 5, 5, 1)]
    asc = top_k_per_key(df, "k", "v", 1, descending=False,
                        tiebreak="id")
    assert sorted((r.k, r.v) for r in asc.collect()) == [("a", 10),
                                                        ("b", 5)]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        top_k_per_key(df, "k", "v", 0)


def test_top_k_per_key_plan_prunes_map_side(spark, sf_dir):
    from arcane_stream_sqlserver_change_tracking_spark.operators.dedup import (
        top_k_per_key,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = top_k_per_key(ev, "user_id", "value", 3, tiebreak="event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Spark 4's group-limit rewrite: a Partial WindowGroupLimit prunes
    # each map task's output to its local top-k BEFORE the Exchange
    # (hot key ships <= k rows per map task), then a Final pass after
    assert plan.count("WindowGroupLimit") == 2
    assert plan.index("WindowGroupLimit") < plan.index(
        "Exchange hashpartitioning")
    assert plan.count("Exchange hashpartitioning") == 1


def test_top_k_per_key_reserved_and_collision_guards(spark):
    from arcane_stream_sqlserver_change_tracking_spark.operators.dedup import (
        top_k_per_key,
    )
    import pytest as _pytest

    df = spark.createDataFrame([("a", 1, 2)], ["k", "v", "__row"])
    with _pytest.raises(ValueError, match="internal working names"):
        top_k_per_key(df, "k", "v", 1)
    df2 = spark.createDataFrame([("a", 1)], ["k", "v"])
    with _pytest.raises(ValueError, match="internal working names"):
        top_k_per_key(df2, "k", "v", 1, rank_col="v")


def test_top_k_per_key_hostile_column_names(spark):
    """Key, order and tiebreak names with dots and backticks are taken
    literally (no nested-field parse, no SQL syntax error)."""
    from arcane_stream_sqlserver_change_tracking_spark.operators.dedup import (
        top_k_per_key,
    )

    df = spark.createDataFrame(
        [("a", 10, 1), ("a", 30, 2), ("a", 30, 3), ("b", 5, 4)],
        ["user.id", "score`x", "row.id`"])
    out = top_k_per_key(df, ["user.id"], "score`x", 1,
                        tiebreak="row.id`", rank_col="r")
    assert out.columns == ["user.id", "score`x", "row.id`", "r"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", 30, 2, 1), ("b", 5, 4, 1)]
