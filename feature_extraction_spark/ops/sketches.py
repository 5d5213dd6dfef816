"""Approximate / sketch aggregations — the 100 TB grain of the stat packs.

The exact A2 bundle (ops/stats.stat_aggs: the timing, confidence and latency
packs) uses `median`, which Spark computes exactly (full per-group sort of
the values; verbosity derives its exact median from an integer histogram,
ops/turn_stats.py). At 10^12 turns
an exact per-entity median is affordable only because groups are small; the
CORPUS-level percentiles, distinct counts, and vocabulary sizes that a
training-data pipeline tracks per shard are not. These operators are the
documented scale substitutes:

- ``approx_stat_bundle``: one-pass bundle with `percentile_approx`
  (mergeable quantile sketch, bounded memory per group) replacing the exact
  median — same column names as the exact bundle so packs can swap it in.
- ``approx_distinct``: HyperLogLog++ `approx_count_distinct` with a
  configurable relative standard deviation.
- ``vocab_sketches`` / ``merge_vocab_sketches``: persistable, MERGEABLE
  Apache DataSketches HLL sketches (`hll_sketch_agg` / `hll_union_agg`) of
  per-entity vocabularies. This is the real 100 TB pattern: sketch each
  partition/day shard once at write time, then answer "distinct tokens over
  any entity/date range" by unioning kilobyte sketches instead of
  re-scanning terabytes of text.

Accuracy contracts are tested against the exact answers in
tests/test_sketches.py (HLL++ rsd bound, quantile-rank tolerance,
sketch-merge == whole-corpus estimate).

Reference parity note: the reference computes exact pandas medians on
per-file shards (timing_features/extract_word_phone_timing.py:22-30) and
has no corpus-level distinct tracking; these operators are the
training-pipeline extension of that stat-bundle shape.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_extraction_spark.functions.text import ws_tokens_expr
from feature_extraction_spark.ops.levels import keys_for
from feature_extraction_spark.ops.stats import stat_aggs


def approx_stat_bundle(
    col: str | Column, prefix: str, accuracy: int = 10_000
) -> list[Column]:
    """max/min/mean/med/std aggregate list with the sketch median.

    `percentile_approx` keeps a bounded summary (~`accuracy` centroids) per
    group and is map-side mergeable; rank error <= 1/accuracy. Everything
    else — column names, population std, NaN for an all-NULL group — is the
    exact bundle's (ops/stats.stat_aggs), so the two are interchangeable in
    a pack's agg list."""
    c = F.col(col) if isinstance(col, str) else col

    def median(v):
        return F.percentile_approx(v, 0.5, accuracy).cast("double")

    return stat_aggs(c, prefix, median=median)


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    level: str = "conv",
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-entity quantile vector in ONE pass (`q_<p>` columns). The exact
    equivalent sorts every group; this keeps a fixed-size sketch per group
    and merges partials map-side."""
    keys = keys_for(level)
    aggs = [
        F.percentile_approx(value_col, p, accuracy)
        .cast("double")
        .alias(f"q_{str(p).replace('.', '_')}")
        for p in probs
    ]
    return df.groupBy(*keys).agg(*aggs)


def approx_distinct(
    df: DataFrame,
    value_col: str | Column,
    level: str = "conv",
    rsd: float = 0.05,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Per-entity HyperLogLog++ distinct estimate (relative standard
    deviation ``rsd``; memory per group ~ (1.04/rsd)^2 registers, constant
    in the data size)."""
    keys = keys_for(level)
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return df.groupBy(*keys).agg(F.approx_count_distinct(c, rsd).alias(out_col))


def approx_vocab_size(
    df: DataFrame,
    level: str = "conv",
    text_col: str = "text",
    rsd: float = 0.05,
) -> DataFrame:
    """Per-entity vocabulary size (distinct whitespace tokens), HLL++.
    The exact form is lexdiv's explode+countDistinct — a full shuffle of
    every token; this shuffles only the fixed-size HLL registers."""
    toks = df.select(
        *keys_for(level),
        F.explode(ws_tokens_expr(F.col(text_col))).alias("tok"),
    )
    return approx_distinct(toks, "tok", level=level, rsd=rsd, out_col="vocab_size")


def vocab_sketches(
    df: DataFrame,
    level: str = "conv",
    text_col: str = "text",
    lg_k: int = 12,
) -> DataFrame:
    """Per-entity MERGEABLE DataSketches HLL sketch of the token vocabulary
    (binary column ``vocab_sketch``, ~2^lg_k bytes). Persist next to each
    written shard; later range queries union sketches instead of rescanning
    text (see ``merge_vocab_sketches``)."""
    keys = keys_for(level)
    toks = df.select(
        *keys,
        F.explode(ws_tokens_expr(F.col(text_col))).alias("tok"),
    )
    return toks.groupBy(*keys).agg(
        F.hll_sketch_agg("tok", F.lit(lg_k)).alias("vocab_sketch")
    )


def merge_vocab_sketches(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "vocab_sketch",
) -> DataFrame:
    """Union pre-computed HLL sketches (optionally re-grouped to a coarser
    grain, e.g. per-day sketches -> per-subject totals) and estimate the
    distinct count. Input bytes: |groups| * sketch size — independent of the
    corpus size the sketches summarize."""
    merged = (
        sketches.groupBy(*group_cols)
        if group_cols
        else sketches.groupBy(F.lit(1).alias("_g"))
    )
    out = merged.agg(F.hll_union_agg(sketch_col).alias("_u")).withColumn(
        "distinct_estimate", F.hll_sketch_estimate("_u")
    ).drop("_u")
    return out.drop("_g") if not group_cols else out


# ------------------------------------------------- Misra-Gries heavy hitters


def heavy_hitters(
    df: DataFrame,
    col: str = "term",
    k: int = 20,
    capacity: int = 1024,
) -> DataFrame:
    """Approximate top-k frequent items via MERGEABLE Misra-Gries summaries
    (Agarwal et al., "Mergeable Summaries", PODS'12).

    Each input partition maintains a bounded counter table (streaming MG:
    counters are reduced back to ``capacity`` entries whenever they exceed
    8x capacity, accumulating the decrement). Partition summaries then merge
    with ONE hash aggregation — summing per-item estimates is exactly the
    MG merge, so the classic guarantee survives distribution:

        true_count - max_undercount <= est_count <= true_count

    where ``max_undercount`` = sum of all partitions' decrements (emitted on
    every row; it is <= n_items / (capacity + 1)). With ``capacity`` >= the
    per-partition distinct count no decrement ever happens and the result
    is EXACT — which is how the driver query is verified against DuckDB.

    Output: top ``k`` rows (item-col, est_count, max_undercount), ordered
    by est_count desc, item asc. Python appears only as an Arrow-batched
    mapInPandas kernel holding O(capacity) state per partition; the merge
    is a JVM hash aggregation over <= capacity * n_partitions rows."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("item", T.StringType(), True),
            T.StructField("est", T.LongType(), False),
            T.StructField("dec", T.LongType(), False),
        ]
    )

    def kernel(batches):
        counts: dict[str, int] = {}
        dec = 0

        def reduce_to(cap: int) -> None:
            nonlocal dec
            if len(counts) <= cap:
                return
            d = sorted(counts.values(), reverse=True)[cap]
            dec += d
            for key in [x for x, c in counts.items() if c <= d]:
                del counts[key]
            for key in counts:
                counts[key] -= d

        for pdf in batches:
            for v, c in pdf.iloc[:, 0].dropna().value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > 8 * capacity:
                reduce_to(capacity)
        reduce_to(capacity)
        yield pd.DataFrame(
            {
                "item": list(counts) + [None],
                "est": list(counts.values()) + [0],
                "dec": [0] * len(counts) + [dec],
            }
        )

    summaries = df.select(F.col(col).cast("string")).mapInPandas(
        kernel, schema=out_schema
    )
    merged = summaries.groupBy("item").agg(F.sum("est").alias("est_count"))
    err = summaries.agg(F.sum("dec").alias("max_undercount"))
    return (
        merged.filter(F.col("item").isNotNull())
        .crossJoin(F.broadcast(err))
        .select(
            F.col("item").alias(col),
            "est_count",
            "max_undercount",
        )
        .orderBy(F.desc("est_count"), F.col(col))
        .limit(k)
    )


def heavy_hitter_terms(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    capacity: int = 1024,
) -> DataFrame:
    """Top-k most frequent words of a text corpus via ``heavy_hitters``
    (lowered whitespace tokens — the shared tokenizer)."""
    toks = df.select(
        F.explode(ws_tokens_expr(F.lower(F.coalesce(F.col(text_col), F.lit(""))))).alias(
            "term"
        )
    )
    return heavy_hitters(toks, col="term", k=k, capacity=capacity)


# ---------------------------------------------------------------------------
# Mergeable histogram quantile state
# ---------------------------------------------------------------------------
#
# percentile_approx answers quantiles in one full scan, but its sketch lives
# only inside a single aggregation — it cannot be persisted per shard and
# merged later, which is exactly what the incremental feature store
# (ops/incremental.py) needs for medians/p99s ("exact medians are NOT
# algebraically mergeable"). A fixed-edge histogram IS: with bin edges pinned
# by configuration (not by the data), the per-entity state is a sparse
# (entity, bin, n) table — computable per shard with one hash aggregation,
# mergeable with another (sum of counts), and finalizable to any quantile
# with error bounded by one bin width. This is the classic mergeable-summary
# tradeoff (Agarwal et al., "Mergeable Summaries", PODS'12): pinning the
# edges up front buys unrestricted mergeability.


@dataclass(frozen=True)
class HistogramSpec:
    """Fixed bin-edge configuration. ``lo``/``hi`` pin the domain — values
    below ``lo`` clamp into bin 0, values at/above ``hi`` into the last bin
    (tail quantiles inside a clamped bin saturate at the domain edge, so
    size the domain generously; log=True gives relative-error bins for
    positive heavy-tailed values like latencies)."""

    lo: float
    hi: float
    bins: int = 128
    log: bool = False

    def __post_init__(self):
        if not (self.hi > self.lo):
            raise ValueError("hi must be > lo")
        if self.bins < 2:
            raise ValueError("bins must be >= 2")
        if self.log and self.lo <= 0:
            raise ValueError("log bins need lo > 0")

    def bin_expr(self, c: Column) -> Column:
        import math

        if self.log:
            scale = self.bins / (math.log(self.hi) - math.log(self.lo))
            # clamp BEFORE the log: log(x<=0) is NULL, which would escape
            # the least/greatest clamp and land the row in a NULL bin
            safe = F.greatest(c, F.lit(self.lo))
            raw = F.floor((F.log(safe) - F.lit(math.log(self.lo))) * F.lit(scale))
        else:
            w = (self.hi - self.lo) / self.bins
            raw = F.floor((c - F.lit(self.lo)) / F.lit(w))
        return F.least(
            F.greatest(raw, F.lit(0)), F.lit(self.bins - 1)
        ).cast("int")

    def edge_exprs(self, bin_col: Column) -> tuple[Column, Column]:
        """(lower, upper) value edges of a bin, as columns."""
        import math

        b = bin_col.cast("double")
        if self.log:
            lw = (math.log(self.hi) - math.log(self.lo)) / self.bins
            lo = F.exp(F.lit(math.log(self.lo)) + b * F.lit(lw))
            hi = F.exp(F.lit(math.log(self.lo)) + (b + 1) * F.lit(lw))
        else:
            w = (self.hi - self.lo) / self.bins
            lo = F.lit(self.lo) + b * F.lit(w)
            hi = F.lit(self.lo) + (b + 1) * F.lit(w)
        return lo, hi


def histogram_state(
    df: DataFrame,
    value_col: str,
    spec: HistogramSpec,
    level: str = "conv",
) -> DataFrame:
    """Per-entity sparse histogram state ``(keys..., bin, n)`` — ONE
    map-side-combinable hash aggregation, no sort. NULL/NaN values are
    excluded (quantile semantics); an entity whose values are all NULL/NaN
    has no state rows and finalizes to no output row."""
    keys = keys_for(level)
    c = F.col(value_col).cast("double")
    return (
        df.filter(c.isNotNull() & ~F.isnan(c))
        .groupBy(*keys, spec.bin_expr(c).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_histogram_states(*states: DataFrame) -> DataFrame:
    """Combine shard states (same ``HistogramSpec``!): union + one hash
    aggregation over |state| rows — independent of the raw data size. The
    caller owns spec consistency; states binned under different edges are
    not comparable and must be rebuilt."""
    from functools import reduce

    allu = reduce(lambda a, b: a.unionByName(b), states)
    keys = [c for c in allu.columns if c not in ("bin", "n")]
    return allu.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))


def histogram_quantiles(
    state: DataFrame,
    spec: HistogramSpec,
    probs: list[float] = (0.25, 0.5, 0.75),
    prefix: str = "q",
) -> DataFrame:
    """Finalize a histogram state to per-entity quantiles (``{prefix}_<p>``
    columns), linearly interpolated within the winning bin — within one
    bin width of the RANK-BASED (inverted-CDF) quantile, i.e. the
    ceil(p*n)-th order statistic. For large samples this coincides with
    interpolated (type-7) quantiles to the same bound; for tiny sparse
    groups the two conventions legitimately differ (type-7 interpolates
    ACROSS value gaps), so exactness tests must compare rank-based.
    One exchange: a cumulative-count window keyed by the entity,
    then a per-entity min over candidate bins per quantile. All native
    expressions; no data-grain rescan (input is |entity x occupied bins|)."""
    from pyspark.sql import Window

    keys = [c for c in state.columns if c not in ("bin", "n")]
    w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy(*keys)
    st = state.withColumn("cum", F.sum("n").over(w)).withColumn(
        "tot", F.sum("n").over(tot_w)
    )
    blo, bhi = spec.edge_exprs(F.col("bin"))
    aggs = []
    for p in probs:
        target = F.lit(float(p)) * F.col("tot")
        # the winning bin is the FIRST with cum >= target; interpolate the
        # rank remainder into its value range
        inside = (F.col("cum") >= target) & (F.col("cum") - F.col("n") < target)
        frac = (target - (F.col("cum") - F.col("n"))) / F.col("n")
        est = blo + (bhi - blo) * F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        name = f"{prefix}_{str(p).replace('.', '_')}"
        aggs.append(F.min(F.when(inside, est)).alias(name))
    return st.groupBy(*keys).agg(*aggs)
