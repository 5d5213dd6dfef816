"""Kaldi semi-structured text sources (reference S5/S6) and the word-boundary
state machine (W5) rebuilt as a native gap-and-island pipeline.

File format (reference kaldi_asr_features/extract_timing_feats.py:11-27):
segments separated by '\\n"'; each segment's first line is its id
``<subject>_<call>_<start>_<end>``; body lines are phone records
``start end x x [word]`` — 5 fields open a word/'sil'/'[noise]'/'[laughter]',
4 fields continue the current word; frame = 25 ms.

State-machine semantics mirrored exactly (reference get_times :147-202):
- every line contributes a phone duration (end-start)*25 ms;
- a 5-field line CLOSES the previous open word at its own start frame;
- 'sil' lines emit a silence (end-start)*25 ms and open nothing;
- '[noise]'/'[laughter]' lines open nothing;
- at segment end an open word closes at the last line's end frame;
- segments with zero real words are skipped entirely;
- segment duration = last line's end frame * 25ms (in seconds); wps/pps per
  segment.

No Python loops: running-sum word ids + lead() for the closing boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan_guard_div as _ng
from feature_extraction_spark.ops.timing import _timing_pack

MARKERS = ("sil", "[noise]", "[laughter]")


def read_kaldi_timing_lines(spark: SparkSession, path: str) -> DataFrame:
    """Parse timing files into one row per phone line:
    (file, seg_idx, seg_id, subject, call, seg_start, seg_end, line_pos,
     f1, f2, n_fields, word)."""
    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), "value"
    )
    segs = raw.select(
        "file",
        F.posexplode(F.split("value", '\n"')).alias("seg_idx", "seg"),
    ).filter(F.length(F.trim("seg")) > 0)
    lines_arr = F.split(F.col("seg"), "\n")
    segs = segs.select(
        "file",
        "seg_idx",
        F.regexp_replace(F.element_at(lines_arr, 1), '"', "").alias("seg_id"),
        F.slice(lines_arr, 2, F.size(lines_arr) - 1).alias("body"),
    )
    seg_parts = F.split(F.col("seg_id"), "_")
    lines = segs.select(
        "file",
        "seg_idx",
        "seg_id",
        F.element_at(seg_parts, 1).alias("subject"),
        F.element_at(seg_parts, 2).alias("call"),
        F.element_at(seg_parts, 3).cast("int").alias("seg_start"),
        F.element_at(seg_parts, 4).cast("int").alias("seg_end"),
        F.posexplode(
            F.filter(F.col("body"), lambda ln: F.length(F.trim(ln)) > 0)
        ).alias("line_pos", "line"),
    )
    items = F.split(F.trim(F.col("line")), " ")
    return lines.select(
        "file", "seg_idx", "seg_id", "subject", "call", "seg_start", "seg_end",
        "line_pos",
        F.element_at(items, 1).cast("int").alias("f1"),
        F.element_at(items, 2).cast("int").alias("f2"),
        F.size(items).alias("n_fields"),
        F.when(F.size(items) == 5, F.element_at(items, 5)).alias("word"),
    )


def kaldi_segment_times(lines: DataFrame) -> DataFrame:
    """One row per segment with the reference's times lists:
    seg_dur_sec, word_durs_ms, sil_durs_ms, phone_durs_ms, wps, pps.
    Segments with zero real words are dropped (reference :196-197)."""
    seg_keys = ["file", "seg_idx"]
    w_line = Window.partitionBy(*seg_keys).orderBy("line_pos")

    # phones: every line
    lines = lines.withColumn("phone_ms", (F.col("f2") - F.col("f1")) * 25)

    # island id: running count of 5-field lines
    lines = lines.withColumn(
        "word_id", F.sum((F.col("n_fields") == 5).cast("int")).over(w_line)
    )

    # group heads (the 5-field line that opened each island)
    heads = lines.filter(F.col("n_fields") == 5).select(
        *seg_keys, "seg_id", "subject", "call", "word_id", "line_pos",
        F.col("f1").alias("head_f1"), F.col("f2").alias("head_f2"),
        F.col("word").alias("head_word"),
    )
    w_head = Window.partitionBy(*seg_keys).orderBy("word_id")
    heads = heads.withColumn("next_head_f1", F.lead("head_f1").over(w_head))

    # per-segment last line f2 (closes the final open word; also seg duration)
    seg_last = lines.groupBy(*seg_keys).agg(
        F.max_by("f2", "line_pos").alias("last_f2"),
        F.sort_array(F.collect_list(F.struct("line_pos", "phone_ms"))).alias("_ph"),
        F.first("seg_id").alias("seg_id"),
        F.first("subject").alias("subject"),
        F.first("call").alias("call"),
    )

    is_marker = F.col("head_word").isin(*MARKERS)
    words = heads.join(
        seg_last.select(*seg_keys, "last_f2"), on=seg_keys, how="inner"
    ).withColumn(
        "word_ms",
        F.when(
            ~is_marker,
            (F.coalesce(F.col("next_head_f1"), F.col("last_f2")) - F.col("head_f1"))
            * 25,
        ),
    ).withColumn(
        "sil_ms",
        F.when(F.col("head_word") == "sil", (F.col("head_f2") - F.col("head_f1")) * 25),
    )

    per_seg = words.groupBy(*seg_keys).agg(
        F.sort_array(
            F.collect_list(
                F.when(F.col("word_ms").isNotNull(), F.struct("word_id", "word_ms"))
            )
        ).alias("_w"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("sil_ms").isNotNull(), F.struct("word_id", "sil_ms"))
            )
        ).alias("_s"),
        F.sum((~is_marker).cast("int")).alias("word_count"),
        F.first("last_f2").alias("last_f2"),
    )
    out = (
        per_seg.join(
            seg_last.select(*seg_keys, "seg_id", "subject", "call", "_ph"),
            on=seg_keys,
        )
        .filter(F.col("word_count") > 0)
        .select(
            "file", "seg_idx", "seg_id", "subject", "call",
            (F.col("last_f2").cast("double") * 25 * 0.001).alias("seg_dur_sec"),
            F.transform("_w", lambda s: s["word_ms"].cast("double")).alias(
                "word_durs_ms"
            ),
            F.transform("_s", lambda s: s["sil_ms"].cast("double")).alias(
                "sil_durs_ms"
            ),
            F.transform("_ph", lambda s: s["phone_ms"].cast("double")).alias(
                "phone_durs_ms"
            ),
            "word_count",
        )
        .withColumn("wps", _ng(F.col("word_count"), F.col("seg_dur_sec")))
        .withColumn("pps", _ng(F.size("phone_durs_ms"), F.col("seg_dur_sec")))
    )
    return out


def kaldi_timing_stats(
    segment_times: DataFrame,
    group_keys: list[str] = ("subject", "call"),
    durations: DataFrame | None = None,
) -> DataFrame:
    """Full Kaldi timing feature pack (reference get_feats with the phones
    variant, timing_features/extract_word_phone_timing.py:10-46 +
    kaldi_asr_features/extract_timing_feats.py:117-145): stat bundles for
    segments/wps/pps/words/phones/silences + derived ratios, grouped by
    arbitrary keys (the A1 level parameterization). The same kernel as the
    MS-ASR pack (ops/timing.py:_timing_pack), with the phone grain added.

    ``durations``: optional dim with group keys + ``duration_ms`` (summed
    per group = reference J4's total call duration); a group missing from
    it gets total_duration 0.0."""
    return _timing_pack(
        segment_times,
        list(group_keys),
        scalars={"seg": "seg_dur_sec", "wps": "wps", "pps": "pps"},
        arrays={
            "word": "word_durs_ms", "phone": "phone_durs_ms", "sil": "sil_durs_ms"
        },
        durations=durations,
    )


def read_kaldi_confidence(spark: SparkSession, path: str) -> DataFrame:
    """Per-word confidence lines (reference S6,
    extract_asr_conf_feats.py:24-47): token[0]=seg_id, token[5]=score;
    seg_id encodes _start_end."""
    raw = spark.read.text(path).select(
        F.input_file_name().alias("file"), "value"
    )
    toks = F.split(F.trim(F.col("value")), " ")
    seg_parts = F.split(F.element_at(toks, 1), "_")
    return raw.filter(F.length(F.trim("value")) > 0).select(
        "file",
        F.element_at(toks, 1).alias("seg_id"),
        F.element_at(seg_parts, 3).cast("int").alias("segment_start"),
        F.element_at(seg_parts, 4).cast("int").alias("segment_end"),
        F.element_at(toks, 6).cast("double").alias("confidence"),
    )
