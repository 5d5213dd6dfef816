"""multi_level_agg (GROUPING SETS single-pass levels) and IVF ANN tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.levels import (
    multi_level_agg,
    with_entity_keys,
)
from feature_extraction_spark.ops.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    ivf_train,
    lsh_topk,
)


def test_multi_level_agg_matches_per_level(spark, transcripts):
    """One GROUPING SETS pass == separate groupBy per level (the reference's
    per---level jobs, kaldi extract_timing_feats.py:62-92)."""
    aggs = {
        "n_turns": F.count(F.lit(1)),
        "wc_sum": F.sum(F.size(F.split(F.col("text"), " ", -1))),
    }
    levels = ["conv", "day", "subject"]
    out = multi_level_agg(transcripts, levels, dict(aggs)).toPandas()

    base = with_entity_keys(transcripts)
    from feature_extraction_spark.ops.levels import keys_for

    for lv in levels:
        keys = keys_for(lv)
        exp = (
            base.groupBy(*keys)
            .agg(*[c.alias(n) for n, c in aggs.items()])
            .toPandas()
            .sort_values(keys)
            .reset_index(drop=True)
        )
        got = (
            out[out["level"] == lv][keys + list(aggs)]
            .sort_values(keys)
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), (lv, len(got), len(exp))
        for n in aggs:
            assert (got[n].values == exp[n].values).all(), (lv, n)


def test_multi_level_agg_single_shuffle(spark, transcripts):
    """The plan contains exactly one Exchange below the aggregate (Expand ->
    partial agg -> shuffle -> final agg), not one per level."""
    out = multi_level_agg(
        transcripts, ["conv", "day", "subject"], {"n": F.count(F.lit(1))}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    # exactly one Exchange between the Expand (grouping-set row replication)
    # and the final aggregate — the source below may have its own exchanges
    above_expand = plan.split("Expand")[0]
    assert above_expand.count("Exchange") == 1, plan


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(7)
    # 3 well-separated clusters + noise so IVF has real structure
    centers = rng.normal(size=(3, 16)) * 5
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_train_deterministic(spark, embeddings):
    c1 = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    c2 = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    assert np.allclose(np.array(c1), np.array(c2))


def test_ivf_assign_covers_all(spark, embeddings):
    cents = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    a = ivf_assign(embeddings, cents).groupBy("ivf_cluster").count().toPandas()
    assert a["count"].sum() == 300
    assert a["ivf_cluster"].between(0, 5).all()


def test_ivf_topk_recall_vs_exact(spark, embeddings):
    cents = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = {r["vec_id"] for r in cosine_topk(embeddings, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_topk(embeddings, q, cents, k=10, nprobe=3).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_ivf_prunes_scan(spark, embeddings):
    """nprobe < n_centroids must scan strictly fewer candidate rows."""
    cents = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    q = embeddings.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    assigned = ivf_assign(embeddings, cents)
    total = assigned.count()
    # candidates = rows in the probed clusters only
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    order = sorted(range(len(cents)), key=lambda c: -cos(q, cents[c]))
    probed = assigned.filter(F.col("ivf_cluster").isin(order[:2])).count()
    assert 0 < probed < total


def test_ivf_probe_skips_zero_norm_centroid(spark):
    """A zero-norm centroid (ivf_train can seed one from a zero row; it
    never gains members, so Lloyd keeps it) has no cosine to the query.
    It must rank last, not scramble the probe order: with nprobe=1 the
    probe must hit the cluster nearest the query and return its exact
    top-k."""
    rows = [
        (0, [1.0, 0.1]), (1, [0.9, -0.1]), (2, [1.0, 0.3]), (3, [0.8, 0.0]),
        (4, [0.1, 1.0]), (5, [0.0, 0.9]), (6, [-0.1, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.1, 1.0], [0.0, 0.0], [1.0, 0.05]]
    q = [1.0, 0.0]
    members = ivf_assign(df, cents).filter(F.col("ivf_cluster") == 2)
    assert members.count() == 4
    exp = cosine_topk(members, q, k=3).collect()
    got = ivf_topk(df, q, cents, k=3, nprobe=1).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in exp]
    assert [r.vec_id for r in got] == [3, 0, 1]


@pytest.mark.parametrize("op", ["cosine_topk", "lsh_topk", "ivf_topk"])
def test_single_query_topk_plans_take_ordered(spark, embeddings, tmp_path, op):
    """Every single-query top-k ranks through one policy that plans as
    TakeOrderedAndProject: per-partition heaps, no global sort, no
    exchange."""
    p = str(tmp_path / "emb")
    embeddings.write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    q = [float(x) for x in embeddings.first()["embedding"]]
    if op == "cosine_topk":
        out = cosine_topk(scan, q, k=5)
    elif op == "lsh_topk":
        out = lsh_topk(scan, q, k=5)
    else:
        cents = [[float(x) for x in r["embedding"]] for r in embeddings.take(3)]
        out = ivf_topk(scan, q, cents, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Sort [" not in plan, plan


def test_cosine_neardup_lsh_recall(spark, embeddings):
    from feature_extraction_spark.ops.similarity import cosine_neardup_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            embeddings, threshold=0.9, method="exact"
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            embeddings, threshold=0.9, method="lsh", tables=6
        ).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.8, (recall, len(exact), len(lsh))


def test_with_entity_keys_preserves_caller_columns(spark):
    """Regression (round-2 review): caller-attached day/week (e.g.
    site-local calendar) must not be recomputed from ts."""
    import datetime as dt

    from feature_extraction_spark.ops.levels import with_entity_keys

    df = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 23, 30), dt.date(2024, 1, 2))],
        "conv_id string, ts timestamp, day date",
    )
    out = with_entity_keys(df).collect()[0]
    assert out["day"] == dt.date(2024, 1, 2)  # caller's local day kept
    assert out["week"] is not None  # missing keys still derived


def test_ann_index_persisted_probe_matches_fresh(spark, embeddings, tmp_path):
    """build_ann_index + ivf_topk_indexed == ivf_train + ivf_topk at the
    same (n_centroids, iters, seed, nprobe) — the persisted index changes
    where the work happens, never the answer."""
    from feature_extraction_spark.ops.similarity import (
        build_ann_index,
        ivf_topk_indexed,
    )

    idx = str(tmp_path / "ann")
    cents = build_ann_index(embeddings, idx, n_centroids=6, iters=2, seed=42)
    fresh_cents = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    assert np.allclose(np.array(cents), np.array(fresh_cents))

    q = embeddings.filter(F.col("vec_id") == 5).collect()[0]["embedding"]
    q = [float(x) for x in q]
    fresh = ivf_topk(embeddings, q, fresh_cents, k=8, nprobe=3).collect()
    idxd = ivf_topk_indexed(spark, idx, q, k=8, nprobe=3).collect()
    assert [r.vec_id for r in idxd] == [r.vec_id for r in fresh]
    assert np.allclose(
        [r.cosine for r in idxd], [r.cosine for r in fresh]
    )


def test_ann_index_probe_plan_prunes_partitions(spark, embeddings, tmp_path):
    """The indexed probe's plan must contain NO Lloyd jobs and NO exchange:
    a partition-pruned scan + projection + TakeOrderedAndProject. Partition
    pruning is visible as the cluster filter landing in the scan's
    PartitionFilters."""
    from feature_extraction_spark.ops.similarity import (
        build_ann_index,
        ivf_topk_indexed,
    )

    idx = str(tmp_path / "ann2")
    build_ann_index(embeddings, idx, n_centroids=6, iters=1, seed=42)
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = ivf_topk_indexed(spark, idx, [float(x) for x in q], k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "PartitionFilters: [" in plan
    # the pruned scan reads 2 of 6 cluster partitions
    pruned = out.select(F.countDistinct("vec_id")).collect()[0][0]
    total = embeddings.count()
    assert 0 < pruned < total


def test_exact_neardup_guard_raises_on_large_input(spark):
    from feature_extraction_spark.ops.similarity import cosine_neardup_pairs

    big = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="lsh"):
        cosine_neardup_pairs(big, method="exact", exact_max_rows=500)
    # under the bound it runs; 0 disables the guard entirely
    small = big.limit(10)
    assert cosine_neardup_pairs(small, method="exact").count() >= 0
    assert (
        cosine_neardup_pairs(small, method="exact", exact_max_rows=0).count()
        >= 0
    )
