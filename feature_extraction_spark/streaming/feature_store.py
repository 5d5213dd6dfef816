"""Streaming feature-store maintenance: fold each micro-batch into a
snapshot-committed mergeable-state table.

This closes the loop between the streaming layer and the incremental
aggregation algebra (ops/incremental.py): a Structured Streaming source
feeds ``foreachBatch``; every micro-batch is reduced to per-entity partial
stat states (one hash aggregation over |batch| rows) and merged with the
current state snapshot (|entities| rows), and the result is committed as
the next snapshot of the state table. Per update the engine touches
|batch| + |state| bytes — never the stream's history.

Exactly-once without a transactional sink: Structured Streaming replays a
failed micro-batch under the SAME batch_id, and the state commit is atomic
(sources/snapshots.py marker protocol) and records the batch_id it folded
in. A replayed batch whose id is already committed is skipped, so the
crash window between snapshot-commit and stream-checkpoint-advance cannot
double-count (tested by direct replay in tests/test_feature_store.py).

Reference analog: none — the reference re-runs batch scripts per data drop
(extract_timing_features.py:187-218); this is the always-on form.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from feature_extraction_spark.ops.incremental import (
    merge_stat_states,
    partial_stat_state,
)
from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    expire_snapshots,
    last_committed_version,
    read_manifest,
    read_snapshot,
)


def _batch_commit_meta(
    spark, table: str, last: int | None, batch_id: int,
    stream_key: str | None, allow_stream_handover: bool = False,
) -> dict | None:
    """Replay and stream-identity guard shared by the streaming upserters:
    the manifest metadata to commit ``batch_id`` with, or None when
    ``table`` (latest version ``last``) already holds it. A table last
    written under another ``stream_key`` raises (see make_state_upserter)
    unless ``allow_stream_handover``."""
    if last is not None:
        m = read_manifest(spark, table, last)
        recorded_key, done = m.get("stream_key"), m.get("stream_batch_id")
        keys = (stream_key, recorded_key)
        if None not in keys and recorded_key != stream_key:
            if not allow_stream_handover:
                raise RuntimeError(
                    f"state table {table!r} was last written by "
                    f"stream {recorded_key!r}, not {stream_key!r} — its "
                    "batch-id watermark is meaningless for this query "
                    "and folding a restarted-from-scratch stream would "
                    "double-count history. Reuse the original "
                    "checkpoint or target a fresh state table (the "
                    "feature-store upserters also take "
                    "allow_stream_handover=True for a deliberate handover)."
                )
            # deliberate handover: fold regardless of the old watermark
        elif done is not None and int(batch_id) <= int(done):
            return None
    meta = {"stream_batch_id": int(batch_id)}
    if stream_key is not None:
        meta["stream_key"] = stream_key
    return meta


def make_state_upserter(
    state_table: str,
    value_col: str | None = None,
    level: str = "conv",
    stream_key: str | None = None,
    allow_stream_handover: bool = False,
    keep_snapshots: int = 2,
    partial_fn: Callable[[DataFrame], DataFrame] | None = None,
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch callable: fold one micro-batch into the state
    snapshot table, idempotently under batch replay.

    The folded summary defaults to the (n, sum, sumsq, min, max) stat
    state over ``value_col``, but ANY mergeable summary works — pass
    ``partial_fn`` (micro-batch -> state rows) and ``merge_fn``
    (previous state x delta state -> merged state), e.g. the fixed-edge
    histogram quantile state (ops/sketches.histogram_state /
    merge_histogram_states, see ``stream_update_histogram_states``) or
    HLL sketch tables. The commit/replay/retention machinery is summary-
    agnostic.

    ``stream_key`` identifies the stream INSTANCE (use the checkpoint
    location — ``stream_update_stat_states`` passes it automatically).
    Batch ids are only monotonic within one checkpoint: a query restarted
    with a FRESH checkpoint restarts at batch 0, so a bare numeric guard
    would silently skip every new batch up to the old high-water mark —
    permanent data loss. With the key recorded, a mismatched stream
    raises instead (the fresh query also re-reads the source from its
    configured start, so folding it into existing state would
    double-count history); pass ``allow_stream_handover=True`` only for a
    deliberate handover where the new query reads strictly new data.

    ``keep_snapshots``: every commit is a full state copy, so an
    always-on stream grows storage as batches x |state| without
    retention; superseded snapshots beyond this many are expired after
    each commit (>= 2 keeps one rollback target; raise it for time
    travel, never below 1)."""
    if (partial_fn is None) != (merge_fn is None):
        raise ValueError("pass partial_fn and merge_fn together")
    if partial_fn is None and value_col is None:
        raise ValueError("need value_col (stat state) or partial_fn/merge_fn")
    if partial_fn is not None and value_col is not None:
        # a caller who passes both almost certainly believes value_col
        # steers the custom summary — it would be silently ignored
        raise ValueError(
            "value_col is only for the default stat state; a custom "
            "partial_fn selects its own columns — pass one or the other"
        )
    if partial_fn is not None and level != "conv":
        # same trap as value_col: level only parameterizes the DEFAULT
        # stat state, a custom partial_fn picks its own grouping
        raise ValueError(
            "level applies only to the default stat state; a custom "
            "partial_fn defines its own grain — drop the level argument"
        )
    if partial_fn is None:
        partial_fn = lambda b: partial_stat_state(b, value_col, level=level)
        merge_fn = merge_stat_states

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last = last_committed_version(spark, state_table)
        meta = _batch_commit_meta(
            spark, state_table, last, batch_id, stream_key,
            allow_stream_handover,
        )
        if meta is None:
            return  # replay of an already-committed batch
        delta = partial_fn(batch_df)
        if last is None:
            state = delta
        else:
            state = merge_fn(read_snapshot(spark, state_table, last), delta)
        commit_snapshot(state, state_table, mode="overwrite", extra_meta=meta)
        expire_snapshots(spark, state_table, keep_last=keep_snapshots)

    return upsert


def stream_update_states(
    stream: DataFrame,
    state_table: str,
    checkpoint: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
    query_name: str = "feature_store_update",
    allow_stream_handover: bool = False,
    keep_snapshots: int = 2,
):
    """Wire a streaming DataFrame into the state-table upserter for ANY
    mergeable summary. Returns the (not-yet-started) DataStreamWriter so
    the caller picks the trigger (availableNow for catch-up runs,
    processingTime for always-on). The checkpoint location doubles as the
    stream identity recorded in every state commit (see
    make_state_upserter)."""
    return (
        stream.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .foreachBatch(
            make_state_upserter(
                state_table,
                stream_key=checkpoint,
                allow_stream_handover=allow_stream_handover,
                keep_snapshots=keep_snapshots,
                partial_fn=partial_fn,
                merge_fn=merge_fn,
            )
        )
    )


def stream_update_stat_states(
    stream: DataFrame,
    state_table: str,
    checkpoint: str,
    value_col: str,
    level: str = "conv",
    query_name: str = "feature_store_update",
    allow_stream_handover: bool = False,
    keep_snapshots: int = 2,
):
    """The (n, sum, sumsq, min, max) stat-state form of
    ``stream_update_states``."""
    return stream_update_states(
        stream,
        state_table,
        checkpoint,
        partial_fn=lambda b: partial_stat_state(b, value_col, level=level),
        merge_fn=merge_stat_states,
        query_name=query_name,
        allow_stream_handover=allow_stream_handover,
        keep_snapshots=keep_snapshots,
    )


def stream_update_histogram_states(
    stream: DataFrame,
    state_table: str,
    checkpoint: str,
    value_col: str,
    spec,
    level: str = "conv",
    query_name: str = "feature_store_histogram_update",
    allow_stream_handover: bool = False,
    keep_snapshots: int = 2,
):
    """Maintain per-entity HISTOGRAM QUANTILE state (ops/sketches.py
    fixed-edge mergeable summaries) from a stream — always-on p50/p99
    tracking without ever rescanning history. Finalize any snapshot with
    ``histogram_quantiles(read_snapshot(...), spec)``. Same commit /
    replay-idempotency / retention machinery as the stat-state form; the
    ``spec`` (bin edges) must stay constant for the state table's lifetime
    — changing it requires a rebuild (states under different edges do not
    merge)."""
    from feature_extraction_spark.ops.sketches import (
        histogram_state,
        merge_histogram_states,
    )

    return stream_update_states(
        stream,
        state_table,
        checkpoint,
        partial_fn=lambda b: histogram_state(b, value_col, spec, level=level),
        merge_fn=merge_histogram_states,
        query_name=query_name,
        allow_stream_handover=allow_stream_handover,
        keep_snapshots=keep_snapshots,
    )


def stream_update_distinct_states(
    stream: DataFrame,
    state_table: str,
    checkpoint: str,
    value_col: str,
    level: str = "conv",
    lg_k: int = 12,
    query_name: str = "feature_store_distinct_update",
    allow_stream_handover: bool = False,
    keep_snapshots: int = 2,
):
    """Maintain per-entity DISTINCT-COUNT state as mergeable DataSketches
    HLL sketches (the third summary type through the generic upserter):
    each micro-batch sketches its own rows (one hash aggregation), the
    merge is ``hll_union_agg`` over |entities| kilobyte sketches — the
    stream's full history is never rescanned and never stored. Read any
    snapshot with ``hll_sketch_estimate(sketch)`` (or
    ops/sketches.merge_vocab_sketches for coarser grains)."""
    from pyspark.sql import functions as F

    from feature_extraction_spark.ops.levels import keys_for

    keys = keys_for(level)

    def partial(b: DataFrame) -> DataFrame:
        return b.groupBy(*keys).agg(
            F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
        )

    def merge(prev: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            prev.unionByName(delta)
            .groupBy(*keys)
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )

    return stream_update_states(
        stream,
        state_table,
        checkpoint,
        partial_fn=partial,
        merge_fn=merge,
        query_name=query_name,
        allow_stream_handover=allow_stream_handover,
        keep_snapshots=keep_snapshots,
    )
