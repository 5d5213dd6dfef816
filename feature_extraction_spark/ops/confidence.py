"""ASR-confidence feature pack (reference:
kaldi_asr_features/extract_asr_conf_feats.py:11-22 and
microsoft_asr_features/extract_confidence_features.py:79-86).

Stat bundle over a per-row confidence score at any entity level. Note the
reference's per-group scores have a group-leak bug (inner comprehension
iterates the whole subject frame, extract_asr_conf_feats.py:110); we
implement the intended per-group semantics (SURVEY.md §4.1 deviation table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.ops.levels import keys_for
from feature_extraction_spark.ops.stats import stat_aggs


def confidence_stats(
    df: DataFrame, level: str = "conv", score_col: str = "confidence"
) -> DataFrame:
    """Aggregates ignore NULL scores natively; an entity whose every score
    is NULL still gets a row with NaN stats (the library's 'NaN, never
    NULL' null object — a pre-filter would drop the entity entirely)."""
    keys = keys_for(level)
    return (
        df.groupBy(*keys)
        .agg(*stat_aggs(F.col(score_col), "conf"))
        .select(*keys, "conf_max", "conf_mean", "conf_std", "conf_min", "conf_med")
    )
