"""Engine runner (checkpoint/resume, lineage metrics), leakage validator,
streaming session windows vs batch parity, multimodal plumbing."""

import pyspark.sql.functions as F
import pytest

from feature_extraction_spark.engine import (
    FeaturePipeline,
    FeatureStep,
    validate_no_leakage,
)
from feature_extraction_spark.ops.sessionize import sessionize
from feature_extraction_spark.ops.windows import rolling_turn_features
from feature_extraction_spark.sources.snapshots import (
    last_committed_version,
    read_manifest,
)


def test_pipeline_checkpoint_resume(spark, transcripts, tmp_path):
    calls = {"n": 0}

    def step1(df):
        calls["n"] += 1
        return sessionize(df, gap_seconds=300.0)

    def step2(df):
        return df.groupBy("conv_id", "session_id").agg(
            F.count(F.lit(1)).alias("n_turns")
        )

    pipe = FeaturePipeline([FeatureStep("sess", step1), FeatureStep("agg", step2)])
    ckpt = str(tmp_path / "ckpt")
    out1 = pipe.run(transcripts, checkpoint_dir=ckpt).toPandas()
    m1 = {m.step: m for m in pipe.metrics}
    assert not m1["sess"].resumed and m1["sess"].rows > 0 and m1["sess"].bytes > 0
    # lineage recorded in the step's snapshot manifest
    sess = ckpt + "/sess"
    manifest = read_manifest(spark, sess, last_committed_version(spark, sess))
    assert manifest["rows"] == m1["sess"].rows

    # second run resumes: step1 fn must NOT be called again
    out2 = pipe.run(transcripts, checkpoint_dir=ckpt).toPandas()
    m2 = {m.step: m for m in pipe.metrics}
    assert m2["sess"].resumed and m2["agg"].resumed
    assert calls["n"] == 1
    key = ["conv_id", "session_id"]
    assert out1.sort_values(key).reset_index(drop=True).equals(
        out2.sort_values(key).reset_index(drop=True)
    )


def test_leakage_validator_passes_for_pit_pipeline(transcripts):
    assert validate_no_leakage(
        lambda df: rolling_turn_features(df).select(
            "conv_id", "turn_idx", "ts", "roll_turns_600s", "roll_gap_mean_600s"
        ),
        transcripts,
    )


def test_leakage_validator_catches_leaky_pipeline(transcripts):
    from pyspark.sql import Window

    def leaky(df):
        # centered window: uses FUTURE rows -> must be caught
        w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(-2, 2)
        return df.select(
            "conv_id", "turn_idx", "ts",
            F.avg(F.length("text")).over(w).alias("centered_avg"),
        )

    with pytest.raises(AssertionError):
        validate_no_leakage(leaky, transcripts)


def test_stream_session_bounds_matches_batch(spark, transcripts, tmp_path):
    from feature_extraction_spark.ops.sessionize import session_bounds
    from feature_extraction_spark.streaming.sessions import stream_session_bounds

    src = str(tmp_path / "stream_src")
    transcripts.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(transcripts.schema).parquet(src)
    out_path = str(tmp_path / "stream_out")
    q = (
        stream_session_bounds(stream, gap="300 seconds", watermark="0 seconds")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "stream_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_path).toPandas()
    exp = session_bounds(transcripts, gap_seconds=300.0).toPandas()
    # append mode only emits sessions the watermark has CLOSED: sessions
    # whose end + gap reaches past the global max event time stay open at
    # end-of-stream and are legitimately absent from the sink.
    max_ts = transcripts.agg(F.max("ts")).collect()[0][0]
    import pandas as pd

    closed = exp[exp["session_end"] + pd.Timedelta(seconds=300) <= max_ts]
    g = got.groupby("conv_id")["n_turns"].agg(["count", "sum"])
    e = closed.groupby("conv_id")["n_turns"].agg(["count", "sum"])
    merged = g.join(e, lsuffix="_s", rsuffix="_b", how="right")
    assert (merged["count_s"] >= merged["count_b"]).all()
    assert (merged["sum_s"] >= merged["sum_b"]).all()
    # and the streaming output never invents sessions absent from batch
    key_b = {(r.conv_id, r.session_start) for r in exp.itertuples()}
    key_s = {(r.conv_id, r.session_start) for r in got.itertuples()}
    assert key_s.issubset(key_b)


def test_multimodal_stub_plumbing(spark):
    from feature_extraction_spark.ops.multimodal import (
        extract_image_features,
        synth_media,
    )

    media = synth_media(spark, n=60)
    feats = extract_image_features(media, dim=8).toPandas()
    assert len(feats) == media.filter("kind = 'image'").count()
    assert feats["feat"].map(len).eq(8).all()
    assert (feats["n_bytes"] > 0).all()
    # deterministic across runs
    again = extract_image_features(synth_media(spark, n=60), dim=8).toPandas()
    assert feats.sort_values("media_id")["feat"].map(tuple).tolist() == \
        again.sort_values("media_id")["feat"].map(tuple).tolist()


def test_stream_turn_rates_matches_batch(spark, transcripts, tmp_path):
    """Sliding-window rates: streaming complete-mode output == batch
    window() aggregation, exactly."""
    from feature_extraction_spark.streaming.sessions import stream_turn_rates

    src = str(tmp_path / "rates_src")
    transcripts.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(transcripts.schema).parquet(src)
    q = (
        stream_turn_rates(stream, window="10 minutes", slide="5 minutes")
        .writeStream.format("memory")
        .queryName("rates_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("rates_mem")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    exp = (
        transcripts.groupBy(
            F.window("ts", "10 minutes", "5 minutes"), F.col("conv_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.avg(F.col("tool").isNotNull().cast("double")).alias("tool_rate"),
        )
        .select(
            "conv_id",
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_turns",
            "tool_rate",
        )
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["n_turns"].values == exp["n_turns"].values).all()
    import numpy as np

    assert np.allclose(got["tool_rate"], exp["tool_rate"])


def test_stream_dedup_turns(spark, transcripts, tmp_path):
    """dropDuplicatesWithinWatermark removes exact (conv_id, turn_idx)
    duplicates injected into the stream."""
    from feature_extraction_spark.streaming.sessions import stream_dedup_turns

    dup = transcripts.unionByName(transcripts.limit(50))
    src = str(tmp_path / "dedup_src")
    dup.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(dup.schema).parquet(src)
    out_path = str(tmp_path / "dedup_out")
    q = (
        stream_dedup_turns(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_path)
    n_unique = transcripts.select("conv_id", "turn_idx").distinct().count()
    assert got.count() == n_unique
    assert got.select("conv_id", "turn_idx").distinct().count() == n_unique


def test_pipeline_checkpoint_uri_scheme(spark, transcripts, tmp_path):
    """Checkpoint/resume + lineage against an explicit file:/// URI — proves
    the metrics path goes through the Hadoop FileSystem API (north_rule: the
    production checkpoint store is HDFS/S3, where os.listdir sees nothing)."""
    calls = {"n": 0}

    def step1(df):
        calls["n"] += 1
        return sessionize(df, gap_seconds=300.0)

    pipe = FeaturePipeline([FeatureStep("sess", step1)])
    ckpt = "file://" + str(tmp_path / "uri_ckpt")
    out1 = pipe.run(transcripts, checkpoint_dir=ckpt).count()
    m1 = {m.step: m for m in pipe.metrics}
    assert m1["sess"].rows > 0 and m1["sess"].bytes > 0 and m1["sess"].files > 0
    # lineage read back through the FS API at the URI location
    sess = ckpt + "/sess"
    manifest = read_manifest(spark, sess, last_committed_version(spark, sess))
    assert manifest["rows"] == m1["sess"].rows
    assert len(manifest["files"]) == m1["sess"].files
    assert all(f["bytes"] > 0 for f in manifest["files"])

    out2 = pipe.run(transcripts, checkpoint_dir=ckpt).count()
    m2 = {m.step: m for m in pipe.metrics}
    assert m2["sess"].resumed and calls["n"] == 1 and out1 == out2


def test_stream_asof_enrich_matches_batch(spark, transcripts, tmp_path):
    """Streaming point-in-time enrichment == the batch as-of join, row for
    row (exact compare): each streamed turn picks up the latest static
    dimension row at-or-before its ts."""
    from feature_extraction_spark.ops.asof import asof_join
    from feature_extraction_spark.streaming.enrich import stream_asof_enrich

    # static dimension: one score per conv every ~7 turns
    dim = (
        transcripts.filter(F.col("turn_idx") % 7 == 0)
        .select("conv_id", "ts", (F.col("turn_idx") * 1.5).alias("score"))
    )

    src = str(tmp_path / "asof_src")
    transcripts.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(transcripts.schema).parquet(src)

    out_path = str(tmp_path / "asof_out")
    q = (
        stream_asof_enrich(stream, dim, on="conv_id", value_cols=["score"])
        .select("conv_id", "turn_idx", "score_asof", "ts_asof")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    key = ["conv_id", "turn_idx"]
    got = spark.read.parquet(out_path).toPandas().sort_values(key).reset_index(drop=True)
    exp = (
        asof_join(transcripts, dim, on="conv_id", value_cols=["score"])
        .select("conv_id", "turn_idx", "score_asof", "ts_asof")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp)


def test_stream_trailing_join_matches_batch(spark, transcripts, tmp_path):
    """Watermarked stream-stream trailing join == the equivalent batch
    join, pair for pair: every (turn, earlier-right-event-within-lookback)
    match of the same conv."""
    from feature_extraction_spark.streaming.enrich import stream_trailing_join

    left_b = transcripts.select("conv_id", "turn_idx", "ts")
    right_b = (
        transcripts.filter(F.col("turn_idx") % 5 == 0)
        .select("conv_id", F.col("turn_idx").alias("ridx"), "ts")
    )
    lsrc, rsrc = str(tmp_path / "tj_l"), str(tmp_path / "tj_r")
    left_b.write.parquet(lsrc)
    right_b.write.parquet(rsrc)

    LOOK = 120.0
    out = stream_trailing_join(
        spark.readStream.schema(left_b.schema).parquet(lsrc),
        spark.readStream.schema(right_b.schema).parquet(rsrc),
        on="conv_id",
        lookback_seconds=LOOK,
    )
    out_path = str(tmp_path / "tj_out")
    q = (
        out.select("conv_id", "turn_idx", "ridx_r")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "tj_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.conv_id, r.turn_idx, r.ridx_r)
        for r in spark.read.parquet(out_path).collect()
    }
    exp_df = left_b.alias("l").join(
        right_b.alias("r"),
        (F.col("l.conv_id") == F.col("r.conv_id"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 120 SECONDS")),
        "inner",
    ).select("l.conv_id", "l.turn_idx", F.col("r.ridx").alias("ridx_r"))
    exp = {(r.conv_id, r.turn_idx, r.ridx_r) for r in exp_df.collect()}
    assert got == exp and len(got) > 0

    # leakage: no joined right event is later than its left event
    chk = stream_trailing_join(
        spark.readStream.schema(left_b.schema).parquet(lsrc),
        spark.readStream.schema(right_b.schema).parquet(rsrc),
        on="conv_id",
        lookback_seconds=LOOK,
        strict=True,
    )
    assert chk.isStreaming

    # validation
    import pytest as _pt

    with _pt.raises(ValueError):
        stream_trailing_join(left_b, right_b, on="conv_id", lookback_seconds=LOOK)


def test_stream_trailing_join_suffix_collision_raises(spark, transcripts, tmp_path):
    """A left column named like the suffixed right ts used to make the
    time condition ambiguous at analysis; now it fails fast at
    construction with a clear message."""
    from feature_extraction_spark.streaming.enrich import stream_trailing_join

    left_b = transcripts.select(
        "conv_id", "turn_idx", "ts", F.col("ts").alias("ts_r")
    )
    right_b = transcripts.select("conv_id", "ts")
    lsrc, rsrc = str(tmp_path / "col_l"), str(tmp_path / "col_r")
    left_b.write.parquet(lsrc)
    right_b.write.parquet(rsrc)
    ls = spark.readStream.schema(left_b.schema).parquet(lsrc)
    rs = spark.readStream.schema(right_b.schema).parquet(rsrc)

    import pytest as _pt

    with _pt.raises(ValueError, match="collides"):
        stream_trailing_join(ls, rs, on="conv_id", lookback_seconds=60.0)
    # a non-colliding suffix works: plan constructs, qualified time refs
    out = stream_trailing_join(
        ls, rs, on="conv_id", lookback_seconds=60.0, suffix="_rhs"
    )
    assert out.isStreaming and "ts_rhs" in out.columns


def test_bmp_codec_roundtrip_and_validation():
    import numpy as np

    from feature_extraction_spark.ops.multimodal import (
        _synth_pixels_bgr,
        decode_bmp,
        encode_bmp,
    )

    # roundtrip across widths that do and don't need row padding
    for mid, (w, h) in enumerate([(8, 8), (9, 11), (15, 16), (16, 9)]):
        px = _synth_pixels_bgr(mid * 7 + 1, w, h)
        blob = encode_bmp(px)
        stride = (w * 3 + 3) // 4 * 4
        assert len(blob) == 54 + h * stride
        back = decode_bmp(blob)
        assert back.shape == (h, w, 3)
        assert (back == px).all()

    # top-down variant (negative height) decodes to the same pixels
    px = _synth_pixels_bgr(3, 9, 5)
    blob = bytearray(encode_bmp(px))
    import struct as _s

    _s.pack_into("<i", blob, 22, -5)  # height := -h (top-down)
    rows = np.frombuffer(bytes(blob[54:]), dtype=np.uint8).reshape(5, 28)
    flipped = rows[::-1].tobytes()
    blob[54:] = flipped
    assert (decode_bmp(bytes(blob)) == px).all()

    import pytest as _pt

    with _pt.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + bytes(100))
    with _pt.raises(ValueError, match="short"):
        decode_bmp(b"BM")
    with _pt.raises(ValueError, match="truncated"):
        decode_bmp(encode_bmp(px)[:-4])
    with _pt.raises(ValueError, match="24-bit"):
        bad = bytearray(encode_bmp(px))
        _s.pack_into("<H", bad, 28, 8)  # bpp := 8
        decode_bmp(bytes(bad))


def test_bmp_stats_distributed_matches_numpy(spark):
    import numpy as np

    from feature_extraction_spark.ops.multimodal import (
        _synth_pixels_bgr,
        extract_bmp_stats,
        synth_media_bmp,
    )

    media = synth_media_bmp(spark, n=30)
    got = {r.media_id: r for r in extract_bmp_stats(media).collect()}
    assert len(got) == 30
    for mid in range(30):
        w, h = 8 + mid % 9, 8 + (mid * 3) % 9
        px = _synth_pixels_bgr(mid, w, h).astype(np.int64)
        r = got[mid]
        assert (r.width, r.height) == (w, h)
        assert r.n_bytes == 54 + h * ((w * 3 + 3) // 4 * 4)
        # exact: same integer sum, same single division
        assert r.mean_b == px[:, :, 0].sum() / (w * h)
        assert r.mean_g == px[:, :, 1].sum() / (w * h)
        assert r.mean_r == px[:, :, 2].sum() / (w * h)


def test_wav_codec_roundtrip_and_validation():
    import numpy as np
    import pytest as _pt

    from feature_extraction_spark.ops.multimodal import (
        _synth_samples,
        decode_wav,
        encode_wav,
    )

    s = _synth_samples(7, 123)
    blob = encode_wav(s, 16000)
    back, sr = decode_wav(blob)
    assert sr == 16000 and (back == s).all()

    # tolerates an extra chunk before data (chunk-walking parser)
    extra = blob[:12] + b"LIST\x04\x00\x00\x00INFO" + blob[12:]
    back2, sr2 = decode_wav(extra)
    assert sr2 == 16000 and (back2 == s).all()

    with _pt.raises(ValueError):
        decode_wav(b"RIFX" + blob[4:])
    with _pt.raises(ValueError):
        decode_wav(blob[:-10])  # truncated data chunk
    bad = bytearray(blob)
    bad[22] = 2  # stereo
    with _pt.raises(ValueError):
        decode_wav(bytes(bad))
    with _pt.raises(ValueError):
        encode_wav(np.zeros((2, 2), dtype=np.int16), 8000)


def test_wav_stats_distributed_matches_numpy(spark):
    import numpy as np

    from feature_extraction_spark.ops.multimodal import (
        _synth_samples,
        extract_wav_stats,
        synth_media_wav,
    )

    media = synth_media_wav(spark, n=20)
    got = {r.media_id: r for r in extract_wav_stats(media).collect()}
    assert len(got) == 20
    for mid in range(20):
        k = 400 + mid % 257
        sr = 8000 + (mid % 4) * 4000
        s = _synth_samples(mid, k).astype(np.int64)
        r = got[mid]
        assert r.n_samples == k and r.sample_rate == sr
        assert r.n_bytes == 44 + 2 * k
        assert r.duration_ms == k * 1000.0 / sr
        assert r.peak == int(np.abs(s).max())
        assert r.rms == float(np.sqrt((s * s).sum() / k))
        assert r.mean_amp == float(s.sum() / k)
