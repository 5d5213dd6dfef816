"""Continuous (streaming) near-duplicate detection: fold each micro-batch
of documents into the persisted MinHash band index and emit the verified
near-dup pairs it creates — the always-on form of incremental LSH dedup
(ops/dedup.minhash_lsh_dedup_incremental).

Three snapshot-committed state tables under one directory:

- ``bands``: the (id, band, bucket) LSH index of everything ingested
- ``docs``:  the (id, text) store verification reads (at real scale this
  is the corpus table itself; the stream maintains it here so the module
  is self-contained)
- ``pairs``: the accumulated verified pair set (id_a, id_b, jaccard)

Per micro-batch the engine shingles/hashes/bands ONLY the batch, probes
the band index, verifies candidates against the text store (semi-join
pruned), and commits the three tables in a fixed order with the pairs
table carrying the batch-id watermark LAST — so a crash anywhere in the
window replays the batch, the anti-join guards make the bands/docs
commits content-idempotent, and a batch whose pairs are already committed
is skipped entirely (same exactly-once recipe as
streaming/feature_store.py, tested by direct replay). The pairs commit
also records the stream key (the checkpoint location): a restart with a
fresh checkpoint restarts batch ids at 0 and raises instead of silently
skipping every batch up to the old watermark.

The invariant inherited from the batch op: after any prefix of batches,
``pairs`` equals the full-corpus ``minhash_lsh_dedup`` pair set over the
documents ingested so far (band-collision symmetry; asserted in
tests/test_streaming_dedup.py).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.ops.dedup import minhash_lsh_dedup_incremental
from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    expire_snapshots,
    last_committed_version,
    read_snapshot,
)
from feature_extraction_spark.streaming.feature_store import _batch_commit_meta

def make_dedup_upserter(
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    keep_snapshots: int = 2,
    stream_key: str | None = None,
    **lsh_kwargs,
):
    """The ``foreachBatch`` callable maintaining the three dedup states.

    ``stream_key`` identifies the stream (``stream_dedup_pairs`` passes
    the checkpoint location); state written under another key raises.

    ``lsh_kwargs`` (num_hashes/bands/shingle_n/seed/method) must stay
    constant for the lifetime of a state directory — signatures are pure
    functions of them, and states under different configs do not compose.
    """
    bands_t = posixpath.join(state_dir, "bands")
    docs_t = posixpath.join(state_dir, "docs")
    pairs_t = posixpath.join(state_dir, "pairs")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last_pairs = last_committed_version(spark, pairs_t)
        meta = _batch_commit_meta(
            spark, pairs_t, last_pairs, batch_id, stream_key
        )
        if meta is None:
            return  # replay of a fully-committed batch
        batch = (
            batch_df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            .dropDuplicates(["doc_id"])
            .localCheckpoint(eager=True)  # batch is re-read 4x below
        )
        ids = batch.select("doc_id")

        def _read_or_empty(table: str, schema_like: DataFrame) -> DataFrame:
            v = last_committed_version(spark, table)
            if v is None:
                return schema_like.limit(0)
            return read_snapshot(spark, table, v)

        # anti-join guards: a crash AFTER the bands/docs commit but BEFORE
        # the pairs commit replays this batch — strip its rows from the
        # prior states so re-folding is content-idempotent
        empty_bands = batch.select(
            F.col("doc_id").alias("id"),
            F.lit(0).alias("band"),
            F.xxhash64("doc_id").alias("bucket"),
        ).limit(0)
        old_bands = _read_or_empty(bands_t, empty_bands).join(
            ids.withColumnRenamed("doc_id", "id"), on="id", how="left_anti"
        )
        old_docs = _read_or_empty(docs_t, batch).join(
            ids, on="doc_id", how="left_anti"
        )
        # pairs schema is derived from the BATCH id type (not a hardcoded
        # bigint DDL) so string-id corpora keep a consistent state schema
        # from batch 1 onward
        empty_pairs = batch.select(
            F.col("doc_id").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.lit(0.0).cast("double").alias("jaccard"),
        ).limit(0)
        old_pairs = (
            read_snapshot(spark, pairs_t, last_pairs)
            if last_pairs is not None
            else empty_pairs
        )

        new_pairs, new_bands = minhash_lsh_dedup_incremental(
            old_bands, old_docs, batch, id_col="doc_id", text_col="text",
            threshold=threshold, **lsh_kwargs,
        )
        commit_snapshot(new_bands, bands_t, mode="overwrite", extra_meta=meta)
        commit_snapshot(
            old_docs.unionByName(batch), docs_t, mode="overwrite",
            extra_meta=meta,
        )
        commit_snapshot(
            old_pairs.unionByName(new_pairs).dropDuplicates(["id_a", "id_b"]),
            pairs_t, mode="overwrite", extra_meta=meta,
        )
        for t in (bands_t, docs_t, pairs_t):
            expire_snapshots(spark, t, keep_last=keep_snapshots)

    return upsert


def stream_dedup_pairs(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    **upserter_kwargs,
):
    """Attach the dedup upserter to a streaming documents source. Returns
    the StreamingQuery; the accumulated pair set is the latest snapshot of
    ``{state_dir}/pairs`` (read via sources/snapshots.read_snapshot).
    The checkpoint location is the stream key recorded in every commit."""
    writer = stream.writeStream.foreachBatch(
        make_dedup_upserter(
            state_dir, stream_key=checkpoint_dir, **upserter_kwargs
        )
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
