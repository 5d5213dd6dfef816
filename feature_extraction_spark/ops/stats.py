"""The descriptive-statistics bundle (SURVEY A2) — every stat pack's
max/min/mean/median/std, defined once.

Reference kernel: timing_features/extract_word_phone_timing.py:22-30, applied
to segments/silences/words/phones/wps/pps lists and confidences. Its two
decisions live here and nowhere else:

- population std (``np.std``, ddof=0), never the sample ``stddev``;
- NaN, never NULL, for a group with no non-NULL value — a stat pack keeps
  the entity's row and marks its empty statistics NaN.

``stat_aggs`` is the raw-row bundle (exact median by default; the sketch
bundle passes ``percentile_approx``). ``moment_stats`` is the
mean/std finalizer for packs that aggregate moments instead of raw rows
(the verbosity histogram, the incremental stat state).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan


def stat_aggs(value: Column, prefix: str, median=F.median) -> list[Column]:
    """Aggregates ``{prefix}_{max,min,mean,med,std}`` over ``value``, in that
    order. ``median`` maps the value column to its median aggregate."""
    return [
        F.coalesce(agg, nan()).alias(f"{prefix}_{name}")
        for name, agg in (
            ("max", F.max(value).cast("double")),
            ("min", F.min(value).cast("double")),
            ("mean", F.mean(value)),
            ("med", median(value)),
            ("std", F.stddev_pop(value)),
        )
    ]


def moment_stats(n: Column, s1: Column, s2: Column) -> tuple[Column, Column]:
    """(mean, population std) from count / sum / sum-of-squares moments; the
    variance ``s2/n - mean^2`` is clamped at 0 against round-off."""
    mean = s1 / n
    return mean, F.sqrt(F.greatest(s2 / n - mean * mean, F.lit(0.0)))
