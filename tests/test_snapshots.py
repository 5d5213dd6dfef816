"""Snapshot-committed table format: commit/read round trips, append +
time travel, partial-write invisibility, and engine resume from the last
COMMITTED snapshot (north_rule checkpoint semantics, Iceberg-style
pointer-swap commits over parquet — see sources/snapshots.py)."""

import posixpath

import pyspark.sql.functions as F

from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    last_committed_version,
    read_snapshot,
    snapshot_versions,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_commit_and_read_roundtrip(spark, tmp_path):
    table = "file://" + str(tmp_path / "t1")
    info = commit_snapshot(_df(spark, 0, 100), table)
    assert info.version == 1 and info.rows == 100 and info.bytes > 0
    assert last_committed_version(spark, table) == 1
    got = read_snapshot(spark, table)
    assert got.count() == 100
    assert got.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(100))


def test_append_and_time_travel(spark, tmp_path):
    table = "file://" + str(tmp_path / "t2")
    commit_snapshot(_df(spark, 0, 50), table)
    info2 = commit_snapshot(_df(spark, 50, 80), table, mode="append")
    assert info2.version == 2 and info2.rows == 80
    assert snapshot_versions(spark, table) == [1, 2]
    assert read_snapshot(spark, table).count() == 80  # latest = union
    assert read_snapshot(spark, table, version=1).count() == 50  # time travel
    # overwrite drops history from the live view but keeps old snapshots
    commit_snapshot(_df(spark, 0, 10), table, mode="overwrite")
    assert read_snapshot(spark, table).count() == 10
    assert read_snapshot(spark, table, version=2).count() == 80


def test_uncommitted_writes_invisible(spark, tmp_path):
    """The manifest is the scan's file source: stray/partial data files and
    a crashed commit (data written, pointer not swapped) are never read."""
    table = "file://" + str(tmp_path / "t3")
    commit_snapshot(_df(spark, 0, 40), table)
    # simulate a crashed v2 write: data lands, no manifest/pointer
    _df(spark, 1000, 2000).write.mode("overwrite").parquet(
        posixpath.join(table, "data", "v2")
    )
    assert last_committed_version(spark, table) == 1
    assert read_snapshot(spark, table).count() == 40
    # stray file inside the COMMITTED snapshot's dir is also invisible
    _df(spark, 0, 7).coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(table, "data", "stray")
    )
    assert read_snapshot(spark, table).count() == 40


def test_pipeline_resume_from_last_committed_snapshot(spark, transcripts, tmp_path):
    from feature_extraction_spark.engine import FeaturePipeline, FeatureStep
    from feature_extraction_spark.ops.sessionize import sessionize

    calls = {"sess": 0, "agg": 0}

    def s1(df):
        calls["sess"] += 1
        return sessionize(df, gap_seconds=300.0)

    def s2(df):
        calls["agg"] += 1
        return df.groupBy("conv_id", "session_id").agg(
            F.count(F.lit(1)).alias("n_turns")
        )

    pipe = FeaturePipeline([FeatureStep("sess", s1), FeatureStep("agg", s2)])
    ck = "file://" + str(tmp_path / "snap_ck")
    out1 = pipe.run(transcripts, checkpoint_dir=ck).toPandas()
    m1 = {m.step: m for m in pipe.metrics}
    assert not m1["sess"].resumed and m1["sess"].rows > 0 and m1["sess"].bytes > 0

    # crash between steps: agg's commit record is gone -> ONLY agg
    # recomputes, sess resumes from its committed snapshot
    from feature_extraction_spark.fsutil import hadoop_fs

    for artifact in ("VERSION", "v1.commit"):
        fs, jpath = hadoop_fs(
            spark, posixpath.join(ck, "agg", "metadata", artifact)
        )
        fs.delete(jpath, False)

    out2 = pipe.run(transcripts, checkpoint_dir=ck).toPandas()
    m2 = {m.step: m for m in pipe.metrics}
    assert m2["sess"].resumed and not m2["agg"].resumed
    assert calls["sess"] == 1 and calls["agg"] == 2
    key = ["conv_id", "session_id"]
    assert out1.sort_values(key).reset_index(drop=True).equals(
        out2.sort_values(key).reset_index(drop=True)
    )

    # third run: everything resumes, nothing recomputes
    pipe.run(transcripts, checkpoint_dir=ck)
    m3 = {m.step: m for m in pipe.metrics}
    assert m3["sess"].resumed and m3["agg"].resumed
    assert calls["sess"] == 1 and calls["agg"] == 2


def test_commit_marker_survives_version_cache_loss(spark, tmp_path):
    """Regression (round-2 review): the commit record is a per-version
    marker file; losing the mutable VERSION cache (the old protocol's
    crash window) must not reset the table to 'never committed'."""
    table = "file://" + str(tmp_path / "t_marker")
    commit_snapshot(_df(spark, 0, 30), table)
    commit_snapshot(_df(spark, 30, 50), table, mode="append")

    from feature_extraction_spark.fsutil import hadoop_fs

    fs, jpath = hadoop_fs(spark, posixpath.join(table, "metadata", "VERSION"))
    fs.delete(jpath, False)
    assert last_committed_version(spark, table) == 2
    assert read_snapshot(spark, table).count() == 50
    # and the NEXT commit continues at v3 (no restart-at-v1 data loss)
    info = commit_snapshot(_df(spark, 50, 60), table, mode="append")
    assert info.version == 3
    assert read_snapshot(spark, table).count() == 60


def test_manifest_without_marker_is_uncommitted(spark, tmp_path):
    """A crash AFTER the manifest write but BEFORE the marker leaves the
    snapshot invisible: not listed, not readable, not resumed-from."""
    import json as _json

    from feature_extraction_spark.fsutil import fs_write_text
    from feature_extraction_spark.sources.snapshots import snapshot_versions

    table = "file://" + str(tmp_path / "t_mf")
    commit_snapshot(_df(spark, 0, 40), table)
    # simulate in-flight v2: data + manifest exist, no marker
    _df(spark, 40, 45).write.mode("overwrite").parquet(
        posixpath.join(table, "data", "v2")
    )
    fs_write_text(
        spark,
        posixpath.join(table, "metadata", "v2.manifest.json"),
        _json.dumps({"version": 2, "parent": 1, "mode": "append", "rows": 5,
                     "new_rows": 5, "bytes": 0, "files": [], "wall_s": 0}),
    )
    assert last_committed_version(spark, table) == 1
    assert snapshot_versions(spark, table) == [1]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="never committed"):
        read_snapshot(spark, table, version=2)


def test_expire_snapshots_retention_and_time_travel_cutoff(spark, tmp_path):
    import pytest

    from feature_extraction_spark.sources.snapshots import expire_snapshots

    table = "file://" + str(tmp_path / "t7")
    for i in range(4):
        commit_snapshot(_df(spark, 0, 10 * (i + 1)), table)
    out = expire_snapshots(spark, table, keep_last=2)
    assert out["expired"] == [1, 2] and out["kept"] == [3, 4]
    assert out["deleted_bytes"] > 0
    assert snapshot_versions(spark, table) == [3, 4]
    assert read_snapshot(spark, table).count() == 40  # latest untouched
    assert read_snapshot(spark, table, version=3).count() == 30
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=1)  # expired by design
    # idempotent / no-op below keep_last
    again = expire_snapshots(spark, table, keep_last=2)
    assert again["expired"] == [] and again["deleted_bytes"] == 0


def test_expire_keeps_data_shared_via_append_manifests(spark, tmp_path):
    """mode='append' manifests reference their PARENT's data files; expiring
    the parent version must not delete data a retained manifest still
    lists."""
    from feature_extraction_spark.sources.snapshots import expire_snapshots

    table = "file://" + str(tmp_path / "t8")
    commit_snapshot(_df(spark, 0, 50), table)                  # v1 data
    commit_snapshot(_df(spark, 50, 80), table, mode="append")  # v2 -> v1+v2 data
    commit_snapshot(_df(spark, 80, 90), table, mode="append")  # v3 -> all
    out = expire_snapshots(spark, table, keep_last=1)
    assert out["expired"] == [1, 2]
    # v3's manifest still lists v1/v2 data dirs, so they must survive and
    # the full union must still read back
    got = read_snapshot(spark, table)
    assert got.count() == 90
    assert got.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(90))
    assert out["deleted_bytes"] == 0  # nothing was safe to delete


def test_merge_upsert_insert_update_delete(spark, tmp_path):
    from feature_extraction_spark.sources.snapshots import (
        merge_upsert,
        read_manifest,
    )

    t = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    info0 = commit_snapshot(base, t)
    # update id=2, insert id=4, delete id=3
    ups = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True)],
        "id long, val string, _del boolean",
    )
    info1 = merge_upsert(ups, t, key_cols=("id",), delete_col="_del")
    got = {
        r["id"]: r["val"] for r in read_snapshot(spark, t).collect()
    }
    assert got == {1: "a", 2: "B", 4: "d"}
    # previous version untouched (time travel)
    old = {r["id"]: r["val"] for r in read_snapshot(spark, t, info0.version).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}
    man = read_manifest(spark, t, info1.version)
    assert man["merge_keys"] == ["id"] and man["merge_deletes"] == 1


def test_merge_upsert_first_commit_and_unique_guard(spark, tmp_path):
    import pytest as _pytest

    from feature_extraction_spark.sources.snapshots import merge_upsert

    t = str(tmp_path / "merge_new")
    ups = spark.createDataFrame([(1, "x"), (2, "y")], "id long, val string")
    merge_upsert(ups, t)
    assert read_snapshot(spark, t).count() == 2

    dup = spark.createDataFrame([(1, "x"), (1, "z")], "id long, val string")
    with _pytest.raises(ValueError):
        merge_upsert(dup, t, assert_unique_keys=True)
    # without the opt-in check it commits (documented contract)
    merge_upsert(spark.createDataFrame([(3, "w")], "id long, val string"), t)
    assert read_snapshot(spark, t).count() == 3


def test_merge_upsert_broadcast_no_big_side_shuffle(spark, tmp_path):
    from feature_extraction_spark.sources.snapshots import merge_upsert

    t = str(tmp_path / "merge_plan")
    base = spark.range(0, 1000).withColumn("val", F.col("id") * 2)
    commit_snapshot(base, t)
    ups = spark.createDataFrame([(5, 99), (2000, 1)], "id long, val long")
    upd_keys = F.broadcast(ups.select("id").distinct())
    keep = read_snapshot(spark, t).join(upd_keys, ["id"], "left_anti")
    plan = keep._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the dimension-sized distinct on the
    # update keys; the snapshot side feeds the broadcast join unshuffled
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    # end-to-end merge correctness at this size
    merge_upsert(ups, t, key_cols=("id",))
    out = read_snapshot(spark, t)
    assert out.count() == 1001
    assert out.filter("id = 5").collect()[0]["val"] == 99


def test_rewrite_data_files_compacts_and_preserves_rows(spark, tmp_path):
    from feature_extraction_spark.sources.snapshots import (
        read_manifest,
        rewrite_data_files,
    )

    t = str(tmp_path / "compact_tbl")
    # append-heavy history -> many small files in the live manifest
    for i in range(4):
        commit_snapshot(
            spark.range(i * 100, (i + 1) * 100).repartition(4),
            t,
            mode="append",
        )
    before = read_manifest(spark, t, last_committed_version(spark, t))
    assert len(before["files"]) >= 16
    info = rewrite_data_files(spark, t, target_mb=512)
    after = read_manifest(spark, t, info.version)
    assert len(after["files"]) == 1  # tiny table -> one target file
    assert after["rewrite_files_before"] == len(before["files"])
    # same rows, and the pre-compaction version is still time-travelable
    got = sorted(r["id"] for r in read_snapshot(spark, t).collect())
    assert got == list(range(400))
    old = read_snapshot(spark, t, before["version"])
    assert old.count() == 400


def test_rewrite_data_files_validation(spark, tmp_path):
    import pytest as _pytest

    from feature_extraction_spark.sources.snapshots import rewrite_data_files

    with _pytest.raises(FileNotFoundError):
        rewrite_data_files(spark, str(tmp_path / "nope"))
    t = str(tmp_path / "tv")
    commit_snapshot(spark.range(5), t)
    with _pytest.raises(ValueError):
        rewrite_data_files(spark, t, target_mb=0)
