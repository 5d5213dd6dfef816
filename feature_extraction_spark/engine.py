"""FeatureStep pipeline runner: composable DataFrame->DataFrame steps with
checkpoint/resume, per-stage lineage metrics, and a point-in-time leakage
validator.

North_rule requirements covered here:
- resume-from-checkpoint: with ``checkpoint_dir`` each step commits its
  output as a snapshot table (sources/snapshots); a re-run resumes every
  step from its last committed snapshot, and a step that crashed before its
  commit marker recomputes. The reference's primitive form of this is
  per-id CSVs + slurm job_num sharding
  (microsoft_asr_features/extract_timing_features.py:179-190).
- per-partition lineage + metrics: the snapshot manifest records rows
  (df.observe, no extra job), bytes, wall seconds and every output file
  with its bytes; StepMetrics carries the per-step totals.
- leakage validation: property-style checker that mutates future rows and
  asserts point-in-time outputs for the past are unchanged.
"""

from __future__ import annotations

import posixpath
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    last_committed_version,
    read_manifest,
    read_snapshot,
)


@dataclass
class FeatureStep:
    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class StepMetrics:
    step: str
    rows: int
    bytes: int
    files: int
    wall_s: float
    resumed: bool


@dataclass
class FeaturePipeline:
    steps: list[FeatureStep]
    metrics: list[StepMetrics] = field(default_factory=list)

    def run(self, df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
        """Apply steps in order. With ``checkpoint_dir``, each step commits
        its output as a snapshot under ``checkpoint_dir/<step name>`` and
        later runs resume from the last committed snapshot instead of
        recomputing."""
        self.metrics = []
        spark = df.sparkSession
        for step in self.steps:
            t0 = time.monotonic()
            if not checkpoint_dir:
                df = step.fn(df)
                self.metrics.append(
                    StepMetrics(step.name, -1, -1, -1, time.monotonic() - t0, False)
                )
                continue
            path = posixpath.join(checkpoint_dir, step.name)
            v = last_committed_version(spark, path)
            resumed = v is not None
            if not resumed:
                v = commit_snapshot(step.fn(df), path).version
            df = read_snapshot(spark, path, v)
            m = read_manifest(spark, path, v)
            self.metrics.append(
                StepMetrics(
                    step.name, int(m["rows"]), int(m["bytes"]), len(m["files"]),
                    time.monotonic() - t0, resumed,
                )
            )
        return df


def validate_no_leakage(
    pipeline_fn: Callable[[DataFrame], DataFrame],
    transcripts: DataFrame,
    cutoff_fraction: float = 0.5,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> bool:
    """Property check: mutate every row with ts > t0 (median by default) and
    assert the pipeline's output rows at ts <= t0 are unchanged. Returns True
    when leakage-free; raises AssertionError otherwise."""
    t0 = transcripts.selectExpr(
        f"percentile(unix_micros(ts), {cutoff_fraction}) AS m"
    ).collect()[0]["m"]

    base = pipeline_fn(transcripts).filter(F.unix_micros("ts") <= t0)

    mutated_src = transcripts.withColumn(
        "text",
        F.when(F.unix_micros("ts") > t0, F.lit("LEAKED")).otherwise(F.col("text")),
    ).withColumn(
        "role",
        F.when(F.unix_micros("ts") > t0, F.lit("leak")).otherwise(F.col("role")),
    )
    mut = pipeline_fn(mutated_src).filter(F.unix_micros("ts") <= t0)

    a = base.toPandas().sort_values(list(key_cols)).reset_index(drop=True)
    b = mut.toPandas().sort_values(list(key_cols)).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)
    return True

