"""Skew smoke (SURVEY §5 item 4): one hot conversation with tens of
thousands of turns among thousands of small ones — every pack must complete
and stay correct on the hot key."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from feature_extraction_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def skewed(spark):
    small = synth_transcripts(spark, n_convs=2000, seed=7, max_turns=20)
    hot = synth_transcripts(spark, n_convs=1, seed=11, max_turns=30_000).withColumn(
        "conv_id", F.lit("conv_hot")
    )
    df = small.unionByName(hot).repartition(16).cache()
    df.count()
    return df


def test_skew_pipeline_completes(spark, skewed):
    from bench import flagship_pipeline

    out = flagship_pipeline(skewed)
    out.write.format("noop").mode("overwrite").save()
    hot_rows = out.filter(F.col("conv_id") == "conv_hot")
    n_hot = skewed.filter(F.col("conv_id") == "conv_hot").count()
    assert hot_rows.count() == n_hot
    # rolling counts on the hot conv are sane: trailing 600s window never
    # exceeds total turns and is >= 1
    stats = hot_rows.agg(
        F.min("roll_turns_600s").alias("lo"), F.max("roll_turns_600s").alias("hi")
    ).collect()[0]
    assert stats["lo"] >= 1.0 and stats["hi"] <= n_hot


def test_skew_sessionize_monotone(spark, skewed):
    from feature_extraction_spark.ops.sessionize import sessionize

    s = sessionize(skewed, gap_seconds=300.0).filter(F.col("conv_id") == "conv_hot")
    pdf = s.orderBy("turn_idx").select("session_id").toPandas()
    d = np.diff(pdf["session_id"].values)
    assert (d >= 0).all() and set(np.unique(d)).issubset({0, 1})


def test_skew_verbosity_hot_key_correct(spark, skewed):
    from feature_extraction_spark.oracle import kernels as ok
    from feature_extraction_spark.ops.turn_stats import verbosity_stats

    row = (
        verbosity_stats(skewed, level="conv")
        .filter(F.col("conv_id") == "conv_hot")
        .collect()[0]
    )
    texts = [
        r["text"]
        for r in skewed.filter(F.col("conv_id") == "conv_hot")
        .orderBy("turn_idx")
        .select("text")
        .collect()
    ]
    exp = ok.verbosity_stats(texts)
    for k in ("wc_mean", "wc_median", "wc_stdev", "total_count", "lw_count",
              "syll_mean", "syll_median"):
        assert np.allclose(row[k], exp[k], equal_nan=True), k


def test_skew_flagship_checkpoint_balance(spark, tmp_path):
    """SURVEY §5 scale stress: a guaranteed 10^5-turn conversation among
    thousands of small ones through the FLAGSHIP pipeline under the
    checkpointing engine — asserts completion, per-key correctness of the
    row count, and post-rebalance per-partition balance read back from the
    checkpoint's snapshot manifest (the skew escape hatch a 100 TB run needs:
    window stages are inherently keyed, the sink rebalances)."""
    from bench import flagship_pipeline
    from feature_extraction_spark.engine import FeaturePipeline, FeatureStep
    from feature_extraction_spark.sources.snapshots import (
        last_committed_version,
        read_manifest,
    )

    small = synth_transcripts(spark, n_convs=3000, seed=7, max_turns=20)
    n_hot = 100_000
    hot = spark.range(0, n_hot).select(
        F.lit("conv_hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") % 3 == 0, "user").otherwise("assistant").alias("role"),
        F.concat(F.lit("turn text "), F.col("id")).alias("text"),
        F.when(F.col("id") % 7 == 0, F.lit("search")).alias("tool"),
        F.timestamp_millis(F.lit(1704067200000) + F.col("id") * 10_000).alias("ts"),
    )
    df = small.unionByName(hot)
    n_total = df.count()

    pipe = FeaturePipeline(
        [
            FeatureStep("features", flagship_pipeline),
            FeatureStep("rebalance", lambda d: d.repartition(16)),
        ]
    )
    out = pipe.run(df, checkpoint_dir=str(tmp_path / "skew_ck"))
    assert out.count() == n_total
    assert out.filter(F.col("conv_id") == "conv_hot").count() == n_hot

    table = str(tmp_path / "skew_ck" / "rebalance")
    manifest = read_manifest(spark, table, last_committed_version(spark, table))
    parts = [f["bytes"] for f in manifest["files"]]
    assert len(parts) >= 8
    mean_b = sum(parts) / len(parts)
    # round-robin rebalance must spread the hot conversation's output:
    # no partition more than 2x the mean
    assert max(parts) <= 2 * mean_b, parts
