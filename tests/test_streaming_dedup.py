"""Continuous streaming dedup: after any prefix of micro-batches the
accumulated pair snapshot equals the batch minhash_lsh_dedup over all
documents ingested so far; batch replay (the crash window) is idempotent."""

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from feature_extraction_spark.ops.dedup import minhash_lsh_dedup
from feature_extraction_spark.sources.snapshots import (
    last_committed_version,
    read_manifest,
    read_snapshot,
)
from feature_extraction_spark.streaming.dedup import (
    make_dedup_upserter,
    stream_dedup_pairs,
)
from feature_extraction_spark.synth import synth_documents

CFG = dict(num_hashes=128, bands=32, method="oph")


def _pairs_set(df):
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()}


def _state_pairs(spark, state_dir):
    t = f"{state_dir}/pairs"
    v = last_committed_version(spark, t)
    assert v is not None
    return _pairs_set(read_snapshot(spark, t, v))


@pytest.fixture(scope="module")
def docs(spark):
    d = synth_documents(spark, n_docs=300, seed=13).cache()
    d.count()
    return d


def test_direct_upserts_match_batch_prefixes(spark, docs, tmp_path):
    state = str(tmp_path / "state")
    up = make_dedup_upserter(state, threshold=0.8, **CFG)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    up(b0, 0)
    assert _state_pairs(spark, state) == _pairs_set(
        minhash_lsh_dedup(b0, threshold=0.8, **CFG)
    )
    up(b1, 1)
    assert _state_pairs(spark, state) == _pairs_set(
        minhash_lsh_dedup(b0.unionByName(b1), threshold=0.8, **CFG)
    )
    up(b2, 2)
    full = _pairs_set(minhash_lsh_dedup(docs, threshold=0.8, **CFG))
    assert _state_pairs(spark, state) == full

    # replay of an already-committed batch is a no-op
    up(b2, 2)
    assert _state_pairs(spark, state) == full


def test_replay_after_partial_commit_is_idempotent(spark, docs, tmp_path):
    """The crash window: bands+docs committed, pairs not. Simulated by
    folding batch 1 twice with a FRESH pairs watermark (batch ids 1 then
    2, same rows) — the anti-join guards must keep bands/docs/pairs
    identical to the single-fold result."""
    state = str(tmp_path / "state")
    up = make_dedup_upserter(state, threshold=0.8, **CFG)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    up(b0, 0)
    up(b1, 1)
    once = _state_pairs(spark, state)
    bands_once = read_snapshot(
        spark, f"{state}/bands",
        last_committed_version(spark, f"{state}/bands"),
    ).count()
    docs_once = read_snapshot(
        spark, f"{state}/docs",
        last_committed_version(spark, f"{state}/docs"),
    ).count()
    up(b1, 2)  # same rows, new batch id — the replay-with-advanced-id case
    assert _state_pairs(spark, state) == once
    assert read_snapshot(
        spark, f"{state}/bands",
        last_committed_version(spark, f"{state}/bands"),
    ).count() == bands_once
    assert read_snapshot(
        spark, f"{state}/docs",
        last_committed_version(spark, f"{state}/docs"),
    ).count() == docs_once


def test_real_stream_availablenow(spark, docs, tmp_path):
    """End-to-end through Structured Streaming: two availableNow catch-ups
    over a growing parquet source; the pair snapshot equals the batch run."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    first.write.mode("append").parquet(src)

    def catchup():
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = stream_dedup_pairs(
            stream, state, ckpt, threshold=0.8, **CFG
        )
        q.awaitTermination(300)

    catchup()
    assert _state_pairs(spark, state) == _pairs_set(
        minhash_lsh_dedup(first, threshold=0.8, **CFG)
    )
    second.write.mode("append").parquet(src)
    catchup()
    full = _pairs_set(minhash_lsh_dedup(docs, threshold=0.8, **CFG))
    assert _state_pairs(spark, state) == full
    pairs_t = f"{state}/pairs"
    m = read_manifest(spark, pairs_t, last_committed_version(spark, pairs_t))
    assert m["stream_key"] == ckpt

    # a restart with a FRESH checkpoint replays the source from batch 0:
    # the query must fail, not skip its batches under the old watermark
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = stream_dedup_pairs(
        stream, state, str(tmp_path / "ckpt_fresh"), threshold=0.8, **CFG
    )
    with pytest.raises(StreamingQueryException, match="was last written"):
        q.awaitTermination(300)
    assert _state_pairs(spark, state) == full


def test_fresh_checkpoint_raises_not_silently_skips(spark, docs, tmp_path):
    """A stream restarted with a NEW checkpoint restarts batch ids at 0; a
    bare numeric watermark would silently skip all its batches up to the
    old high-water mark (data loss). The upserter must refuse loudly and
    leave the states untouched."""
    state = str(tmp_path / "state_fresh")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    up_a = make_dedup_upserter(state, threshold=0.8, stream_key="ckpt-A", **CFG)
    up_a(b0, 0)
    up_a(b1, 1)
    before = {
        t: last_committed_version(spark, f"{state}/{t}")
        for t in ("bands", "docs", "pairs")
    }
    up_b = make_dedup_upserter(state, threshold=0.8, stream_key="ckpt-B", **CFG)
    with pytest.raises(RuntimeError, match="ckpt-A"):
        up_b(docs.filter(F.col("doc_id") % 3 == 2), 0)
    for t, v in before.items():
        assert last_committed_version(spark, f"{state}/{t}") == v
    # the original stream's replay guard is unchanged
    up_a(b1, 1)
    assert last_committed_version(spark, f"{state}/pairs") == before["pairs"]


def test_string_id_corpus_keeps_declared_pair_schema(spark, docs, tmp_path):
    """ADVICE r3: the pairs state schema is derived from the batch id type
    (not a hardcoded bigint DDL), so a string-id corpus commits string
    id_a/id_b from batch 1 onward and later batches union cleanly."""
    sdocs = docs.withColumn(
        "doc_id", F.concat(F.lit("doc-"), F.col("doc_id"))
    ).cache()
    state = str(tmp_path / "state_str")
    up = make_dedup_upserter(state, threshold=0.8, **CFG)
    # batch 0 chosen to produce ZERO pairs (single doc) — the empty-pairs
    # frame is exactly what used to pin the wrong bigint schema
    up(sdocs.limit(1), 0)
    t = f"{state}/pairs"
    v0 = last_committed_version(spark, t)
    s0 = read_snapshot(spark, t, v0)
    assert dict(s0.dtypes)["id_a"] == "string"
    up(sdocs, 1)
    v1 = last_committed_version(spark, t)
    got = read_snapshot(spark, t, v1)
    assert dict(got.dtypes)["id_a"] == "string"
    exp = minhash_lsh_dedup(sdocs, threshold=0.8, **CFG)
    assert _pairs_set(got) == _pairs_set(exp)
