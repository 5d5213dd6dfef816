"""Timing feature pack — the reference's core timing kernel rebuilt natively.

Reference semantics:
- per-segment intermediates (microsoft_asr_features/extract_timing_features.py:102-164):
  segment duration in SECONDS (100ns * 1e-7), word durations in MS
  (100ns * 1e-4), words-per-second per segment, and silence durations in MS:
  leading (first word offset - segment offset), inter-word lag-gaps
  (curr.Offset - (prev.Offset + prev.Duration)), trailing (segment end -
  last word end), with zero-length silences dropped (:163).
- group kernel (timing_features/extract_word_phone_timing.py:10-71):
  max/min/mean/med/std bundles per sound type + derived ratios, population
  std, NaN guards, total_duration from a per-entity duration lookup
  (the reference does an O(groups×dim) loc-scan per group, :175 — rebuilt
  as a pre-aggregated broadcast join, SURVEY.md J2).

Spark-first: silence extraction is array algebra over the typed
``word_timing`` column (transform-with-index lag-gap — no explode until the
aggregation, no Python); then one tagged value stream and ONE conditional
hash aggregation for every grain (``_timing_pack``, shared with the Kaldi
pack in sources/kaldi.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan, nan_guard_div
from feature_extraction_spark.ops.levels import keys_for
from feature_extraction_spark.ops.stats import stat_aggs

# grain tag -> stat-bundle prefix (tags not listed are their own prefix)
_PREFIX = {"seg": "segments", "word": "words", "phone": "phones", "sil": "silences"}
# array grain tag -> per-speaking-second rate, in the reference's column order
_RATE = {"sil": "sps", "word": "wps", "phone": "pps"}


def tag_struct(k: str, v):
    """(k, v) struct of the tagged value stream built by ``_timing_pack``."""
    return F.struct(F.lit(k).alias("k"), v.cast("double").alias("v"))


def with_turn_timing(df: DataFrame) -> DataFrame:
    """Add per-turn timing intermediates: seg_sec, word_durs_ms (array),
    sil_durs_ms (array, zero-filtered), wps_seg.

    NULL ``word_timing`` (no word-level ASR output for the turn) is treated
    as an EMPTY word list: the turn still contributes to the segment-grain
    stats with wps 0, and emits no word/silence rows — same as the pandas
    oracle kernel. Without the coalesce, downstream ``F.concat`` of the
    arrays would go NULL and silently drop the turn from ALL aggregates."""
    wt = F.coalesce(
        F.col("word_timing"),
        F.array().cast("array<struct<Word:string,Duration:bigint,Offset:bigint>>"),
    )
    seg_sec = F.col("duration").cast("double") * 1e-7

    word_durs = F.transform(wt, lambda w: w["Duration"].cast("double") * 1e-4)

    # silences: leading + inter-word gaps via transform-with-index, then
    # trailing appended; all * 1e-4 to ms; zeros removed (reference :163).
    def sil(w, i):
        prev = F.element_at(wt, i)  # i is 0-based -> element_at 1-based = prev
        return F.when(
            i == 0, (w["Offset"] - F.col("offset")).cast("double") * 1e-4
        ).otherwise(
            (w["Offset"] - (prev["Offset"] + prev["Duration"])).cast("double") * 1e-4
        )

    between = F.transform(wt, sil)
    last = F.element_at(wt, -1)
    trailing = (
        (F.col("offset") + F.col("duration")) - (last["Offset"] + last["Duration"])
    ).cast("double") * 1e-4
    sils = F.when(F.size(wt) > 0, F.concat(between, F.array(trailing))).otherwise(
        F.array().cast("array<double>")
    )
    sils = F.filter(sils, lambda x: x != 0.0)

    return (
        df.withColumn("seg_sec", seg_sec)
        .withColumn("word_durs_ms", word_durs)
        .withColumn("sil_durs_ms", sils)
        .withColumn(
            # nan_guard, not bare division: a zero-duration turn must carry
            # NaN into the wps bundle (the reference's ratio convention),
            # not a NULL that aggregates silently skip
            "wps_seg",
            nan_guard_div(F.size(wt).cast("double"), F.col("seg_sec")),
        )
    )


def _timing_pack(
    rows: DataFrame,
    keys: list[str],
    scalars: dict[str, str],
    arrays: dict[str, str],
    durations: DataFrame | None,
) -> DataFrame:
    """The reference's timing kernel (get_feats) over per-segment ``rows``:
    ``scalars`` maps a grain tag to the column holding its one value per
    segment ('seg' = segment seconds, required), ``arrays`` maps a grain tag
    to an array column of values per segment ('sil' = silence ms, required).
    Bundles and counts come out in the order the grains are given, rates in
    the reference's sps/wps/pps order.

    ONE tagged value stream + ONE conditional hash aggregation. The naive
    per-grain form (one aggregation per grain, joined) evaluates the
    upstream HOF chain once per grain and shuffles once per grain;
    higher-order array functions are interpreted (outside whole-stage
    codegen), so the repeated evaluation dominates. Tagging each value with
    its grain costs one explode and shuffles once, with map-side partial
    aggregation."""
    stream = rows.select(
        *keys,
        F.explode(
            F.concat(
                *(F.array(tag_struct(g, F.col(c))) for g, c in scalars.items()),
                *(
                    F.transform(c, lambda x: tag_struct(g, x))
                    for g, c in arrays.items()
                ),
            )
        ).alias("e"),
    ).select(*keys, F.col("e.k").alias("k"), F.col("e.v").alias("v"))

    k, v = F.col("k"), F.col("v")
    seg_v = F.when(k == "seg", v)
    out = stream.groupBy(*keys).agg(
        *(
            agg
            for g in (*scalars, *arrays)
            for agg in stat_aggs(F.when(k == g, v), _PREFIX.get(g, g))
        ),
        F.sum(seg_v).alias("spk_duration"),
        F.count(seg_v).cast("double").alias("segment_count"),
        F.sum(F.when((k == "seg") & (v <= 1.0), 1).otherwise(0))
        .cast("double")
        .alias("short_utt_count"),
        # F.count yields 0, not NULL, for a group with no rows of the grain
        *(
            F.count(F.when(k == g, 1)).cast("double").alias(f"{g}_count")
            for g in arrays
        ),
        (F.coalesce(F.sum(F.when(k == "sil", v)), F.lit(0.0)) * 0.001).alias(
            "sil_duration"
        ),
    )

    out = out.withColumn(
        "spk_sil_ratio", nan_guard_div(F.col("spk_duration"), F.col("sil_duration"))
    )
    for g, rate in _RATE.items():
        if g in arrays:
            out = out.withColumn(
                rate, nan_guard_div(F.col(f"{g}_count"), F.col("spk_duration"))
            )

    if durations is not None:
        dim = durations.groupBy(*keys).agg(
            (F.sum("duration_ms") * 1e-3).alias("total_duration")
        )
        out = out.join(F.broadcast(dim), on=keys, how="left").withColumn(
            "total_duration", F.coalesce(F.col("total_duration"), F.lit(0.0))
        )
    else:
        out = out.withColumn("total_duration", nan())

    per_min = F.col("total_duration") / 60.0
    return (
        out.withColumn(
            "spk_ratio", nan_guard_div(F.col("spk_duration"), F.col("total_duration"))
        )
        .withColumn(
            "sil_ratio", nan_guard_div(F.col("sil_duration"), F.col("total_duration"))
        )
        .withColumn("segs_per_min", nan_guard_div(F.col("segment_count"), per_min))
        .withColumn(
            "short_utts_per_min", nan_guard_div(F.col("short_utt_count"), per_min)
        )
    )


def timing_stats(
    df: DataFrame,
    level: str = "conv",
    durations: DataFrame | None = None,
) -> DataFrame:
    """One wide row per entity with the reference's timing features:
    {segments,wps,words,silences}_{max,min,mean,med,std}, spk_duration,
    segment_count, short_utt_count, word_count, sil_count, sil_duration,
    spk_sil_ratio, sps, wps, total_duration, spk_ratio, sil_ratio,
    segs_per_min, short_utts_per_min.

    ``durations``: optional dimension with the entity keys + ``duration_ms``;
    pre-aggregated and broadcast-joined (replaces reference J2's per-group
    scan); an entity missing from it gets total_duration 0.0. Without it
    total_duration-derived features are NaN.
    """
    return _timing_pack(
        with_turn_timing(df),
        keys_for(level),
        scalars={"seg": "seg_sec", "wps": "wps_seg"},
        arrays={"word": "word_durs_ms", "sil": "sil_durs_ms"},
        durations=durations,
    )
