"""Sketch aggregates (ops/sketches.py): every approximation is tested
against the exact answer with its published error bound."""

import math

import pyspark.sql.functions as F

from feature_extraction_spark.ops.sketches import (
    approx_distinct,
    approx_quantiles,
    approx_stat_bundle,
    approx_vocab_size,
    merge_vocab_sketches,
    vocab_sketches,
)


def test_approx_stat_bundle_matches_exact_on_small_groups(spark, transcripts):
    """At accuracy=10^4 and group sizes << accuracy the sketch median is
    EXACTLY a data value at rank error 0 — equal to Spark's exact median
    for odd-sized groups and within the middle pair for even ones."""
    wc = F.size(F.split("text", " ", -1)).cast("double")
    t = transcripts.withColumn("wc", wc)
    approx = t.groupBy("conv_id").agg(*approx_stat_bundle("wc", "wc"))
    exact = t.groupBy("conv_id").agg(
        F.max("wc").alias("e_max"),
        F.min("wc").alias("e_min"),
        F.mean("wc").alias("e_mean"),
        F.expr("percentile(wc, 0.5)").alias("e_med"),
        F.stddev_pop("wc").alias("e_std"),
        F.sort_array(F.collect_list("wc")).alias("vals"),
    )
    j = approx.join(exact, "conv_id").collect()
    assert len(j) > 0
    for r in j:
        assert r["wc_max"] == r["e_max"] and r["wc_min"] == r["e_min"]
        assert math.isclose(r["wc_mean"], r["e_mean"], rel_tol=1e-12)
        # sketch median must be an actual data value in the middle pair
        vals, n = r["vals"], len(r["vals"])
        lo, hi = vals[(n - 1) // 2], vals[n // 2]
        assert lo <= r["wc_med"] <= hi


def test_approx_stat_bundle_all_null_group_is_nan(spark):
    """The sketch bundle keeps the exact bundle's NaN rule: a group whose
    every value is NULL keeps its row, with NaN (never NULL) in all five
    columns."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None), ("b", None)], "g string, x double"
    )
    rows = {
        r["g"]: r for r in df.groupBy("g").agg(*approx_stat_bundle("x", "x")).collect()
    }
    a = rows["a"]
    assert (a["x_max"], a["x_min"], a["x_mean"], a["x_std"]) == (3.0, 1.0, 2.0, 1.0)
    for s in ("max", "min", "mean", "med", "std"):
        v = rows["b"][f"x_{s}"]
        assert v is not None and math.isnan(v), (s, v)


def test_approx_quantiles_rank_error(spark, transcripts):
    t = transcripts.withColumn(
        "wc", F.size(F.split("text", " ", -1)).cast("double")
    )
    qs = approx_quantiles(t, "wc", [0.1, 0.5, 0.9], level="conv", accuracy=10_000)
    exact = t.groupBy("conv_id").agg(
        F.sort_array(F.collect_list("wc")).alias("vals")
    )
    for r in qs.join(exact, "conv_id").collect():
        vals = r["vals"]
        n = len(vals)
        for p, col in [(0.1, "q_0_1"), (0.5, "q_0_5"), (0.9, "q_0_9")]:
            # rank error <= 1/accuracy -> exact rank at these group sizes,
            # but allow +-1 rank for boundary-interpolation differences
            ranks = [i for i, v in enumerate(vals) if v == r[col]]
            assert ranks, f"quantile {p} returned a non-data value"
            target = p * (n - 1)
            assert min(abs(i - target) for i in ranks) <= 1.0 + n / 10_000


def test_approx_distinct_within_hll_bound(spark, transcripts):
    rsd = 0.05
    got = approx_distinct(
        transcripts, F.col("turn_idx") % 97, level="conv", rsd=rsd
    )
    exact = transcripts.groupBy("conv_id").agg(
        F.countDistinct(F.col("turn_idx") % 97).alias("exact")
    )
    for r in got.join(exact, "conv_id").collect():
        # 4 standard deviations: P(violation) ~ 6e-5 per group
        assert abs(r["approx_distinct"] - r["exact"]) <= max(
            4 * rsd * r["exact"], 2
        ), (r["conv_id"], r["approx_distinct"], r["exact"])


def test_approx_vocab_size_vs_exact(spark, transcripts):
    rsd = 0.05
    got = {r["conv_id"]: r["vocab_size"] for r in approx_vocab_size(
        transcripts, level="conv", rsd=rsd
    ).collect()}
    toks = transcripts.select(
        "conv_id",
        F.explode(
            F.filter(F.split("text", r"\s+", -1), lambda w: F.length(w) > 0)
        ).alias("tok"),
    )
    exact = {
        r["conv_id"]: r["n"]
        for r in toks.groupBy("conv_id").agg(F.countDistinct("tok").alias("n")).collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) <= max(4 * rsd * e, 2), (k, got[k], e)


def test_vocab_sketches_merge_equals_whole_corpus(spark, transcripts):
    """The 100 TB pattern: per-day sketches unioned == one corpus sketch —
    both estimates must agree with each other and with the exact count
    within the lg_k=12 HLL bound (~1.6% rsd)."""
    t = transcripts
    per_day = vocab_sketches(
        t.withColumn("day", F.to_date("ts")).withColumnRenamed("conv_id", "_c")
        .withColumnRenamed("day", "conv_id"),
        level="conv",
    )
    merged = merge_vocab_sketches(per_day).collect()[0]["distinct_estimate"]
    toks = t.select(
        F.explode(
            F.filter(F.split("text", r"\s+", -1), lambda w: F.length(w) > 0)
        ).alias("tok")
    )
    exact = toks.agg(F.countDistinct("tok").alias("n")).collect()[0]["n"]
    assert abs(merged - exact) <= max(0.08 * exact, 3), (merged, exact)


def test_vocab_sketch_regroup_to_coarser_grain(spark, transcripts):
    """Per-conv sketches re-merged to one group per conv prefix: union at a
    coarser grain answers range queries without touching the text again."""
    sk = vocab_sketches(transcripts, level="conv").withColumn(
        "bucket", F.substring("conv_id", 1, 9)
    )
    out = merge_vocab_sketches(sk, group_cols=["bucket"])
    rows = out.collect()
    assert len(rows) >= 1
    assert all(r["distinct_estimate"] > 0 for r in rows)


def test_heavy_hitters_exact_when_capacity_suffices(spark, transcripts):
    from collections import Counter

    from feature_extraction_spark.ops.sketches import heavy_hitter_terms

    got = heavy_hitter_terms(transcripts, k=15, capacity=200_000).toPandas()
    texts = [r["text"] for r in transcripts.select("text").collect()]
    exact = Counter(w for t in texts for w in (t or "").lower().split())
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert [(r["term"], r["est_count"]) for _, r in got.iterrows()] == top
    assert (got["max_undercount"] == 0).all()


def test_heavy_hitters_mg_guarantee_under_pressure(spark):
    """Small capacity on skewed data: every estimate obeys
    true - max_undercount <= est <= true, and the heaviest item wins."""
    from collections import Counter

    import pyspark.sql.functions as F

    from feature_extraction_spark.ops.sketches import heavy_hitters

    n = 20_000
    # zipf-ish: item_j with frequency ~ n/(j+1)
    df = spark.range(n).select(
        F.concat(
            F.lit("item_"),
            F.floor(F.sqrt(F.col("id") % 10_000)).cast("string"),
        ).alias("term")
    ).repartition(8)
    rows = [r["term"] for r in df.collect()]
    exact = Counter(rows)
    got = heavy_hitters(df, col="term", k=10, capacity=16).toPandas()
    assert len(got) == 10
    und = int(got["max_undercount"].iloc[0])
    assert 0 < und <= len(rows) // (16 + 1) * 8  # per-partition sum bound
    for _, r in got.iterrows():
        true = exact[r["term"]]
        assert r["est_count"] <= true <= r["est_count"] + und, (
            r["term"], r["est_count"], true, und
        )
    # the true heaviest item must be ranked first
    heaviest = max(exact.items(), key=lambda kv: kv[1])[0]
    assert got["term"].iloc[0] == heaviest


def test_heavy_hitters_null_safe(spark):
    import pyspark.sql.functions as F

    from feature_extraction_spark.ops.sketches import heavy_hitters

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "term string"
    )
    got = heavy_hitters(df, col="term", k=5, capacity=10).toPandas()
    assert list(got["term"]) == ["a", "b"]
    assert list(got["est_count"]) == [2, 1]
