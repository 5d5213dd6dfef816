"""Incremental (mergeable-partial) aggregation over snapshot tables —
"process only what the last commit added", the pattern that keeps a
10^12-turn feature store from recomputing the world on every append.

The algebra: a stat STATE per entity — (n, sum, sumsq, min, max) — is
- computable per shard with one hash aggregation,
- mergeable by another hash aggregation (sum/sum/sum/min/max),
- finalizable to count/mean/population std/min/max at read time
  (ops/stats.moment_stats).

Pair it with ``sources/snapshots.py``: each `commit_snapshot(mode='append')`
records exactly which files are new, ``snapshot_delta`` reads ONLY those
files, and the state table is itself snapshot-committed — so an update
touches |new data| + |state| bytes regardless of table history. Mergeable
HLL sketches (ops/sketches.py) compose with the same flow for distincts.

Exact medians are NOT algebraically mergeable; packs that need them either
rescan (exact), use ``sketches.approx_stat_bundle`` at the full-scan grain,
or maintain a ``sketches.histogram_state`` next to the stat state — the
fixed-edge histogram IS mergeable under this same flow and finalizes to any
quantile within one bin width. The sumsq variance form can cancel catastrophically when
|mean| >> stddev; values here (counts, durations, gaps) are well away from
that regime — for hostile magnitudes, shift by a per-entity offset first.

Reference analog: the reference re-runs every per-file script over the full
corpus on each data drop (slurm array over all files,
microsoft_asr_features/extract_timing_features.py:187-218); this replaces
that with delta-only processing.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_extraction_spark.ops.levels import keys_for
from feature_extraction_spark.ops.stats import moment_stats

STATE_COLS = ("n", "sum", "sumsq", "min", "max")


def partial_stat_state(
    df: DataFrame, value_col: str, level: str = "conv"
) -> DataFrame:
    """Per-entity mergeable state of ``value_col``: one hash aggregation,
    map-side combinable, no sort."""
    keys = keys_for(level)
    c = F.col(value_col).cast("double")
    return df.groupBy(*keys).agg(
        F.count(c).alias("n"),
        F.sum(c).alias("sum"),
        F.sum(c * c).alias("sumsq"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
    )


def merge_stat_states(*states: DataFrame) -> DataFrame:
    """Combine any number of state tables (an entity may appear in any
    subset). Input bytes: sum of |entities| rows per state — independent of
    the raw data the states summarize."""
    allu = reduce(lambda a, b: a.unionByName(b), states)
    keys = [c for c in allu.columns if c not in STATE_COLS]
    return allu.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum").alias("sum"),
        F.sum("sumsq").alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )


def finalize_stat_state(state: DataFrame, prefix: str) -> DataFrame:
    """State -> the A2-bundle columns {prefix}_{count,mean,std,min,max}
    (population std; variance clamped at 0 against round-off)."""
    keys = [c for c in state.columns if c not in STATE_COLS]
    mean, std = moment_stats(F.col("n"), F.col("sum"), F.col("sumsq"))
    return state.select(
        *keys,
        F.col("n").cast("double").alias(f"{prefix}_count"),
        mean.alias(f"{prefix}_mean"),
        std.alias(f"{prefix}_std"),
        F.col("min").alias(f"{prefix}_min"),
        F.col("max").alias(f"{prefix}_max"),
    )


def is_append_ancestor(
    spark: SparkSession, table: str, from_version: int, to_version: int
) -> bool:
    """True iff ``to_version`` descends from ``from_version`` through
    append-mode commits only — the condition under which a file-set
    difference IS the set of added rows. An overwrite anywhere in between
    rewrites history (old rows may be gone or rewritten into new files),
    so the difference would silently mix adds with rewrites."""
    from feature_extraction_spark.sources.snapshots import read_manifest

    v: int | None = to_version
    while v is not None and v > from_version:
        m = read_manifest(spark, table, v)
        if m.get("mode") != "append":
            return False
        v = m.get("parent")
    return v == from_version


def snapshot_delta(
    spark: SparkSession,
    table: str,
    from_version: int | None,
    to_version: int | None = None,
) -> DataFrame | None:
    """Rows added to a snapshot table AFTER ``from_version`` (exclusive), up
    to ``to_version`` (inclusive; default latest) — resolved from the
    manifests' explicit file lists, so only the new files are ever opened.
    ``from_version=None`` means "everything". Returns None when there is
    nothing new. Raises ``ValueError`` when the range crosses a
    non-append (overwrite) commit: the file difference then does NOT equal
    the added rows — callers must rebuild from the full snapshot instead
    (``incremental_stat_update`` does this automatically)."""
    from feature_extraction_spark.sources.snapshots import (
        last_committed_version,
        read_manifest,
    )

    v_to = to_version if to_version is not None else last_committed_version(
        spark, table
    )
    if v_to is None:
        return None
    if from_version is not None and not is_append_ancestor(
        spark, table, from_version, v_to
    ):
        raise ValueError(
            f"v{from_version} is not an append-ancestor of v{v_to} in {table}:"
            " an overwrite commit rewrote history; the file difference is not"
            " a row delta. Recompute from the full snapshot."
        )
    new_files = {f["path"] for f in read_manifest(spark, table, v_to)["files"]}
    if from_version is not None:
        old = {
            f["path"] for f in read_manifest(spark, table, from_version)["files"]
        }
        new_files -= old
    if not new_files:
        return None
    return spark.read.parquet(*sorted(new_files))


def incremental_stat_update(
    spark: SparkSession,
    source_table: str,
    state_table: str,
    value_col: str,
    level: str = "conv",
) -> int | None:
    """One incremental maintenance step, snapshot-to-snapshot:

    1. find the source version the state table last processed (recorded as a
       ``_src_version`` column in the state — constant per snapshot),
    2. read only the source files added since then,
    3. aggregate the delta, merge with the previous state, commit the merged
       state as the state table's next snapshot.

    Returns the processed source version (None = nothing new). Crash-safe by
    construction: the state commit is atomic, and a crash before it leaves
    the previous state (with its recorded source version) intact.
    """
    from feature_extraction_spark.sources.snapshots import (
        commit_snapshot,
        last_committed_version,
        read_snapshot,
    )

    src_v = last_committed_version(spark, source_table)
    state_v = last_committed_version(spark, state_table)
    prev_state = None
    done_v = None
    if state_v is not None:
        prev_state = read_snapshot(spark, state_table)
        done_v = prev_state.select(F.max("_src_version")).collect()[0][0]
    if src_v is None or (done_v is not None and src_v <= done_v):
        return None

    if done_v is not None and not is_append_ancestor(
        spark, source_table, done_v, src_v
    ):
        # the source was overwritten since the state's watermark: a file
        # delta would double-count; rebuild the state from the full snapshot
        prev_state = None
        done_v = None
    delta = snapshot_delta(spark, source_table, done_v, src_v)
    if delta is None:
        return None
    new_state = partial_stat_state(delta, value_col, level)
    if prev_state is not None:
        new_state = merge_stat_states(prev_state.drop("_src_version"), new_state)
    new_state = new_state.withColumn("_src_version", F.lit(src_v))
    commit_snapshot(new_state, state_table, mode="overwrite")
    return src_v
