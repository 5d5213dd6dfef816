"""Verbosity / word-complexity feature pack (reference kernel:
text_features/extract_verbosity_stats.py:10-67).

Per entity group: statistics of per-turn word counts (wc_*), fraction of
long words (>6 chars, misnamed ``lw_count`` in the reference — name kept for
parity, extract_verbosity_stats.py:33-34), mean word length, and syllable
stats per word.

Spark-first design — the EXACT-HISTOGRAM plan: the stat values (per-turn
word count, per-word syllable count) are small non-negative integers, so
each grain first collapses to a ``(keys, value) -> count`` histogram in a
pure-codegen HashAggregate (declarative sums only: graceful spill, strong
map-side combine — syllable values collapse ~10:1 before the shuffle), and
every statistic is then derived EXACTLY from the tiny histogram:

- count/sum/min/max: direct bucket algebra;
- mean = sum(v*c)/n — identical to Spark's Average (exact long sums, one
  IEEE division);
- median: cumulative bucket counts over a window ordered by value — the
  (n+1) div 2 / n div 2 + 1 order statistics, averaged; equals
  ``F.median``'s interpolation exactly on integer inputs;
- population std from exact integer moments (ops/stats.moment_stats) —
  numerically exact for constant groups, and within ulps of Welford
  otherwise (values are small exact ints; verified against the DuckDB
  oracle and the numpy test kernels).

WHY not ``F.median`` directly: percentile/median are TypedImperativeAggregate
-> ObjectHashAggregateExec, whose sort-based fallback triggers at
spark.sql.objectHashAggregate.sortBased.fallbackThreshold (default 128)
distinct keys per task. At millions of groups every task falls back to
SORTING ALL RAW ROWS with per-group array buffers — measured 42 GB of
memory spill and 2.5x CPU inflation from 8 to 32 cores on a 52.8 M-turn
input (BENCH/scaling.json round-3 diagnosis); it was the single
non-scaling stage of the flagship pipeline. The histogram plan keeps the
raw-row pass inside whole-stage codegen and moves the order-statistic
work to histogram grain (10-50x smaller), one window + one reused
exchange.

Parity rules: population std (ddof=0), exact median, NaN (not NULL) for
empty/zero denominators, tokenize = literal single-space split keeping
empty strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import (
    nan,
    nan_guard_div,
    syllable_count_expr,
    tokenize_expr,
)
from feature_extraction_spark.ops.levels import keys_for
from feature_extraction_spark.ops.stats import moment_stats


def _hist_stat_bundle(
    hist: DataFrame,
    keys: list[str],
    prefix: str,
    extra_sums: list[str] | None = None,
) -> DataFrame:
    """Per-key 5-stat bundle (mean/median/stdev/min/max, exact) from a
    ``(keys..., v, c)`` integer histogram; ``extra_sums`` columns are
    summed through unconditionally (they are full-row sums carried on the
    buckets). NULL-v buckets keep the group alive but contribute to no
    statistic — matching aggregate NULL semantics on raw rows."""
    nn = F.col("v").isNotNull()
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(F.col("v").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*keys)
    h = hist.withColumn("_cum", F.sum(F.when(nn, F.col("c"))).over(w_cum))
    h = h.withColumn("_n", F.sum(F.when(nn, F.col("c"))).over(w_all))
    lo_pos = F.expr("(_n + 1) div 2")
    hi_pos = F.expr("_n div 2 + 1")

    aggs = [
        F.sum(F.when(nn, F.col("c"))).alias("_n_"),
        F.sum(F.when(nn, F.col("v") * F.col("c"))).alias("_s1"),
        F.sum(F.when(nn, F.col("v") * F.col("v") * F.col("c"))).alias("_s2"),
        F.min("v").cast("double").alias(f"{prefix}_min"),
        F.max("v").cast("double").alias(f"{prefix}_max"),
        F.min(F.when(F.col("_cum") >= lo_pos, F.col("v"))).alias("_mlo"),
        F.min(F.when(F.col("_cum") >= hi_pos, F.col("v"))).alias("_mhi"),
    ]
    for c in extra_sums or []:
        aggs.append(F.sum(c).alias(c))
    out = h.groupBy(*keys).agg(*aggs)

    mean, std = moment_stats(F.col("_n_"), F.col("_s1"), F.col("_s2"))
    return (
        out.withColumn(f"{prefix}_mean", mean)
        .withColumn(
            f"{prefix}_median",
            ((F.col("_mlo") + F.col("_mhi")) / 2.0).cast("double"),
        )
        .withColumn(f"{prefix}_stdev", std)
        .drop("_mlo", "_mhi", "_s2")
    )


def verbosity_stats(
    transcripts: DataFrame,
    level: str = "conv",
    text_col: str = "text",
) -> DataFrame:
    """One wide row per entity with the reference's verbosity features:
    wc_mean wc_median wc_stdev wc_min wc_max total_count lw_count word_len
    syll_mean syll_median syll_stdev syll_min syll_max.
    """
    keys = keys_for(level)
    words = tokenize_expr(F.col(text_col))

    per_turn = transcripts.select(
        *keys,
        F.size(words).alias("wc"),
        F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w)
        ).alias("len_sum"),
        F.size(F.filter(words, lambda w: F.length(w) > 6)).alias("long_ct"),
        words.alias("words"),
    )

    # Turn grain: histogram over per-turn word count; the long-word and
    # char-length totals ride the same buckets (sums distribute), so this
    # stays ONE pass over the turns.
    turn_hist = (
        per_turn.groupBy(*keys, F.col("wc").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("long_ct").alias("_long_total"),
            F.sum("len_sum").alias("_len_total"),
        )
    )
    turn_agg = _hist_stat_bundle(
        turn_hist, keys, "wc", extra_sums=["_long_total", "_len_total"]
    )
    turn_agg = (
        turn_agg.withColumn("total_count", F.col("_s1").cast("double"))
        .withColumn(
            "lw_count",
            nan_guard_div(F.col("_long_total"), F.col("total_count")),
        )
        .withColumn(
            # mean word length over every word in the group
            "word_len",
            nan_guard_div(F.col("_len_total"), F.col("total_count")),
        )
        .drop("_long_total", "_len_total", "_s1", "_n_")
    )

    # Word grain: syllable histogram. The syllable expression (regex) is
    # projected ONCE per word; the (keys, syll) hash agg collapses ~10:1
    # map-side before the shuffle (syllable counts are tiny ints).
    word_rows = per_turn.select(*keys, F.explode("words").alias("word")).select(
        *keys, syllable_count_expr(F.col("word")).alias("v")
    )
    syll_hist = word_rows.groupBy(*keys, "v").agg(F.count(F.lit(1)).alias("c"))
    word_agg = _hist_stat_bundle(syll_hist, keys, "syll").drop("_s1", "_n_")

    out = turn_agg.join(word_agg, on=keys, how="left")
    # Groups whose turns were all absent from word_agg cannot occur (every
    # turn yields >=1 token), but keep the reference's NaN-for-empty rule.
    for c in ("syll_mean", "syll_median", "syll_stdev", "syll_min", "syll_max"):
        out = out.withColumn(c, F.coalesce(F.col(c), nan()))
    # canonical column order (pre-histogram-rewrite schema, kept stable)
    return out.select(
        *keys,
        "wc_mean", "wc_median", "wc_stdev", "wc_min", "wc_max",
        "total_count", "lw_count", "word_len",
        "syll_mean", "syll_median", "syll_stdev", "syll_min", "syll_max",
    )
