"""The benchmark's workloads.

Each workload writes its inputs from the seed (``build``, repeated during
set-up), does its one-off set-up (``prepare``), attaches the inputs to a
session (``load``), runs one closed-loop operation (``op``, returning the
input rows it processed), checks the outputs outside the timed window
(``check``, returning failure messages) and, in a traced run, repeats its
operation with spans around every call into a layer (``trace``).

Layers are named by the module whose public functions a span times.
Because the ops are lazy, a call's own span is plan construction only
(``build``). A traced run therefore also forces each prefix of a chain,
and a layer's self time is the time to force its prefix minus the time
to force the prefix before it.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import feature_extraction_spark.ops.backfill as backfill_mod
import feature_extraction_spark.ops.chunk as chunk_mod
import feature_extraction_spark.ops.dedup as dedup_mod
import feature_extraction_spark.ops.lines as lines_mod
import feature_extraction_spark.ops.render as render_mod
import feature_extraction_spark.ops.sessionize as sessionize_mod
import feature_extraction_spark.ops.turn_stats as turn_stats_mod
import feature_extraction_spark.ops.windows as windows_mod
import feature_extraction_spark.sources.snapshots as snapshots_mod
from feature_extraction_spark.oracle import kernels as oracle
from feature_extraction_spark.ops.asof import asof_join_auto
from feature_extraction_spark.ops.incremental import (
    incremental_stat_update,
    partial_stat_state,
    snapshot_delta,
)
from feature_extraction_spark.ops.pipeline import prepare_sft, prepare_sft_stages
from feature_extraction_spark.ops.pq import adc_lut, pq_adc_topk, pq_encode, pq_train
from feature_extraction_spark.ops.similarity import (
    build_ann_index,
    cosine_topk,
    ivf_topk_indexed,
)
from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    last_committed_version,
    read_manifest,
    read_snapshot,
)
from perfbench import inputs

# Input sizes, in turns: the same on every seed, so an operation does the
# same amount of work whatever the seed. Conversation sizes keep a
# truncated-Pareto skew (median 1-2 turns, a few hundred at most).
MAX_TURNS = 400
TRANSCRIPT_TURNS = 20_000
REFRESH_BASE_TURNS = 10_000
REFRESH_DELTA_TURNS = 1_500
REFRESH_CYCLES = 24
SFT_ARGS = dict(max_chars=2000, dedup_lines=True, materialize_rendered=True)
ANN_VECS = 10_000
ANN_DIM = 64
ANN_QUERIES = 12
IVF_LISTS = 8
IVF_PROBES = 2
PQ_SUBSPACES = 4
PQ_CENTROIDS = 8
TOPK = 10
IVF_RECALL_FLOOR = 0.8

VERBOSITY_COLS = [
    "wc_mean", "wc_median", "wc_stdev", "wc_min", "wc_max",
    "total_count", "lw_count", "word_len",
    "syll_mean", "syll_median", "syll_stdev", "syll_min", "syll_max",
]


def force(df) -> None:
    """Compute every column: the noop sink, never ``count()``, which lets
    Catalyst prune joins and window columns."""
    df.write.format("noop").mode("overwrite").save()


def digest(df) -> tuple[int, int]:
    """(rows, order-free hash of every row); doubles rounded to 9 places so
    a different floating-point summation order does not change it."""
    cols = [
        F.round(F.col(f.name), 9) if f.dataType.typeName() in ("double", "float")
        else F.col(f.name)
        for f in df.schema.fields
    ]
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total


def new_files(spark, table: str, version: int) -> list[dict]:
    """Files a commit wrote (its own data dir), with their sizes."""
    marker = f"/data/v{version}/"
    return [f for f in read_manifest(spark, table, version)["files"]
            if marker in f["path"]]


def _span(tracer, name, layer="", kind="build"):
    return _null() if tracer is None else tracer.span(name, layer, kind)


@contextmanager
def _null():
    yield None


@contextmanager
def instrumented(tracer, patches):
    """Replace each ``module.<name>`` in ``patches`` (layer, module, names,
    kind) by a wrapper that opens a span around the call. This times the
    calls a library composite makes, because the composites look their
    operators up on the module at call time."""
    saved = [(module, n, getattr(module, n)) for _, module, names, _ in patches
             for n in names]

    def wrap(fn, name, layer, kind):
        def traced(*args, **kwargs):
            with tracer.span(name, layer, kind):
                return fn(*args, **kwargs)
        return traced

    try:
        for layer, module, names, kind in patches:
            for n in names:
                setattr(module, n, wrap(getattr(module, n), n, layer, kind))
        yield
    finally:
        for module, n, fn in saved:
            setattr(module, n, fn)


class Workload:
    name = ""
    warmup_ops = 2

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rows = 0
        self.input_bytes = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fresh(self, *names: str) -> None:
        for n in names:
            shutil.rmtree(self.path(n), ignore_errors=True)

    def build(self, spark) -> None:
        """Write the inputs; repeated during set-up, so idempotent."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """One-off set-up after the inputs exist."""

    def load(self, spark) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """Untimed operations, so the JIT has compiled the hot paths before
        the timed window."""
        for _ in range(self.warmup_ops):
            self.op(spark)

    def op(self, spark, tracer=None) -> int:
        raise NotImplementedError

    def exhausted(self) -> bool:
        return False

    def check(self, spark) -> list[str]:
        raise NotImplementedError

    def trace(self, spark, tracer, reps: int) -> "LayerTrace":
        raise NotImplementedError

    def report(self) -> dict:
        return {}


# ---------------------------------------------------------------- pit_backfill


class PitBackfill(Workload):
    """Flagship point-in-time feature matrix over a transcripts table:
    sessionize -> role transitions -> rolling windows -> backfill ->
    conv-level verbosity joined back."""

    name = "pit_backfill"
    warmup_ops = 3

    def build(self, spark) -> None:
        inputs.write(inputs.transcripts(self.seed, TRANSCRIPT_TURNS, MAX_TURNS),
                     self.path("turns"))

    def load(self, spark) -> None:
        self.turns = spark.read.parquet(self.path("turns"))
        self.rows = self.turns.count()
        self.input_bytes = dir_bytes(self.path("turns"))

    def chain(self, tracer=None) -> list[tuple[str, object]]:
        """(layer, DataFrame) prefixes; the last one is the full output."""
        t = self.turns
        with _span(tracer, "sessionize", "ops.sessionize"):
            x = sessionize_mod.sessionize(t, gap_seconds=300.0)
        out = [("ops.sessionize", x)]
        with _span(tracer, "rolling_turn_features", "ops.windows"):
            x = windows_mod.rolling_turn_features(
                windows_mod.with_role_transition(x),
                trailing_seconds=600, trailing_rows=10,
            )
        out.append(("ops.windows", x))
        x = x.withColumn(
            "tool_val",
            F.when(F.col("tool").isNotNull(), F.length("tool").cast("double")),
        )
        with _span(tracer, "backfill", "ops.backfill"):
            x = backfill_mod.backfill(x, ["tool_val"])
        out.append(("ops.backfill", x))
        with _span(tracer, "verbosity_stats", "ops.turn_stats"):
            conv = turn_stats_mod.verbosity_stats(t, level="conv")
        out.append(("ops.turn_stats", x.join(conv, on="conv_id", how="left")))
        return out

    def op(self, spark, tracer=None):
        force(self.chain(tracer)[-1][1])
        return self.rows

    def warmup(self, spark):
        # the warm-up passes write their output, so the check can compare
        for i in range(self.warmup_ops):
            self.chain()[-1][1].write.mode("overwrite").parquet(self.path(f"pass{i}"))

    def check(self, spark):
        fails = []
        out = spark.read.parquet(self.path(f"pass{self.warmup_ops - 1}"))
        d1, d2 = digest(spark.read.parquet(self.path("pass0"))), digest(out)
        if d1 != d2:
            fails.append(f"pit_backfill: digest differs between passes {d1} {d2}")
        if d2[0] != self.rows:
            fails.append(f"pit_backfill: {d2[0]} output rows for {self.rows} turns")
        n_convs = self.turns.select(F.countDistinct("conv_id")).collect()[0][0]
        sample = [f"conv_{i:06d}" for i in
                  random.Random(self.seed).sample(range(n_convs), min(25, n_convs))]
        got = {
            r["conv_id"]: r
            for r in out.filter(F.col("conv_id").isin(sample))
            .select("conv_id", *VERBOSITY_COLS).dropDuplicates(["conv_id"]).collect()
        }
        texts: dict[str, list[tuple[int, str]]] = {}
        for r in self.turns.filter(F.col("conv_id").isin(sample)).select(
            "conv_id", "turn_idx", "text"
        ).collect():
            texts.setdefault(r["conv_id"], []).append((r["turn_idx"], r["text"]))
        for cid in sample:
            row = got.get(cid)
            if row is None or cid not in texts:
                fails.append(f"pit_backfill: conv {cid} missing")
                continue
            exp = oracle.verbosity_stats([t for _, t in sorted(texts[cid])])
            for c in VERBOSITY_COLS:
                if not np.allclose(row[c], exp[c], equal_nan=True):
                    fails.append(f"pit_backfill: {cid} {c} {row[c]} != oracle {exp[c]}")
        return fails

    def trace(self, spark, tracer, reps):
        lt = LayerTrace(tracer)
        for _ in range(reps):
            with tracer.span("op", kind="op"):
                chain = self.chain(tracer)
                force(chain[-1][1])
        prefixes = [("sources.scan", self.turns)] + chain
        for _ in range(reps):
            for layer, df in prefixes:
                with tracer.span(f"prefix:{layer}", layer, "force"):
                    force(df)
        lt.prefix_chain([f"prefix:{layer}" for layer, _ in prefixes])
        lt.scan_bytes = self.input_bytes
        return lt


# ------------------------------------------------------------------- retrieval


class Retrieval:
    """A fixed embedding table with a prebuilt IVF index and PQ codes, and
    single-query probes against it: exact cosine top-k, an IVF probe and
    ADC over the PQ codes."""

    KINDS = ("cosine", "ivf", "pq")
    LAYER = {"cosine": "ops.similarity", "ivf": "ops.similarity", "pq": "ops.pq"}

    def __init__(self, path, seed: int):
        self.path = path
        self.seed = seed
        self.results: dict[str, list[tuple[int, list[int]]]] = {k: [] for k in self.KINDS}

    def build(self) -> None:
        inputs.write(inputs.embeddings(self.seed, ANN_VECS, ANN_DIM), self.path("emb"))

    def prepare(self, spark) -> None:
        """The index build: IVF lists, and PQ codebooks and codes."""
        emb = spark.read.parquet(self.path("emb"))
        build_ann_index(emb, self.path("index"), n_centroids=IVF_LISTS, iters=1,
                        seed=self.seed)
        # codebooks from a fixed one-in-five sample, as PQ training usually is
        self.codebooks = pq_train(emb.filter(F.col("vec_id") % 5 == 0),
                                  m=PQ_SUBSPACES, k=PQ_CENTROIDS, iters=1)
        pq_encode(emb, self.codebooks).write.mode("overwrite").parquet(self.path("codes"))

    def load(self, spark) -> None:
        self.emb = spark.read.parquet(self.path("emb"))
        self.codes = spark.read.parquet(self.path("codes"))
        rows = self.emb.select("vec_id", "embedding").collect()
        self.ids = np.array([r[0] for r in rows], dtype=np.int64)
        self.mat = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
        rng = np.random.default_rng(self.seed)
        picks = rng.choice(len(rows), size=ANN_QUERIES, replace=False)
        noise = rng.normal(0.0, 0.25, size=(ANN_QUERIES, self.mat.shape[1]))
        self.queries = [[float(x) for x in self.mat[p] + n] for p, n in zip(picks, noise)]

    def probe(self, spark, kind: str, qi: int, tracer=None) -> None:
        layer, q = self.LAYER[kind], self.queries[qi]
        with _span(tracer, f"probe:{kind}", layer, "force"):
            with _span(tracer, f"build:{kind}", layer):
                if kind == "cosine":
                    df = cosine_topk(self.emb, q, k=TOPK)
                elif kind == "ivf":
                    df = ivf_topk_indexed(spark, self.path("index"), q, k=TOPK,
                                          nprobe=IVF_PROBES)
                else:
                    df = pq_adc_topk(self.codes, self.codebooks, q, k=TOPK)
            with _span(tracer, f"collect:{kind}", layer, "force"):
                ids = [r[0] for r in df.collect()]
        self.results[kind].append((qi, ids))

    def exact(self, qi: int) -> tuple[np.ndarray, np.ndarray]:
        """Brute-force cosine top-k (ties to the smaller id) and all cosines."""
        q = np.asarray(self.queries[qi], dtype=np.float64)
        cos = self.mat @ q / (np.linalg.norm(self.mat, axis=1) * np.linalg.norm(q))
        return self.ids[np.lexsort((self.ids, -cos))[:TOPK]], cos

    def recall(self, kind: str) -> float:
        hits = [len(set(ids) & set(self.exact(qi)[0].tolist())) / TOPK
                for qi, ids in self.results[kind]]
        return float(np.mean(hits)) if hits else 0.0

    def check(self) -> list[str]:
        fails = []
        pos = {int(v): j for j, v in enumerate(self.ids)}
        for qi, ids in self.results["cosine"]:
            top, cos = self.exact(qi)
            kth = cos[pos[int(top[-1])]]
            if len(ids) != TOPK or any(cos[pos[int(i)]] < kth - 1e-9 for i in ids):
                fails.append(f"cosine_topk for query {qi} is not the exact top-{TOPK}")
        # PQ: the same ADC ranking recomputed in numpy from the codes
        codes = {r[0]: r[1] for r in self.codes.select("vec_id", "pq_code").collect()}
        code_ids = np.array(sorted(codes), dtype=np.int64)
        code_mat = np.array([codes[i] for i in code_ids], dtype=np.int64)
        for qi, ids in self.results["pq"]:
            lut = np.array(adc_lut(self.codebooks, self.queries[qi]))
            dist = lut[np.arange(lut.shape[0]), code_mat].sum(axis=1)
            kth = dist[np.lexsort((code_ids, dist))[TOPK - 1]]
            got = dist[np.searchsorted(code_ids, ids)]
            if len(ids) != TOPK or np.any(got > kth + 1e-9):
                fails.append(f"pq_adc_topk for query {qi} is not the ADC top-{TOPK}")
        if not self.results["ivf"]:
            fails.append("no IVF probes ran")
        elif self.recall("ivf") < IVF_RECALL_FLOOR:
            fails.append(f"IVF recall@{TOPK} {self.recall('ivf'):.3f} < {IVF_RECALL_FLOOR}")
        return fails


# ----------------------------------------------------------------- pit_refresh


class PitRefresh(Workload):
    """One refresh cycle per operation: append a fixed-size delta of new
    turns, update the incremental conv-level state, commit a point-in-time
    training set (an as-of join of a label spine onto the delta's turns),
    commit an SFT dataset prepared from the delta, and serve one nearest-
    neighbour probe of each kind against the prebuilt embedding index."""

    name = "pit_refresh"
    VALUE = "n_chars"
    SFT_CALLS = [
        ("ops.render", render_mod, ["truncate_conversations", "render_conversations"],
         "build"),
        ("ops.dedup", dedup_mod, ["exact_dedup"], "build"),
        ("ops.lines", lines_mod, ["line_dedup"], "build"),
        ("ops.chunk", chunk_mod, ["hash_split"], "build"),
        ("sources.snapshots", snapshots_mod, ["materialize"], "force"),
    ]
    SFT_PREFIXES = [
        ("sources.scan", "input"),
        ("ops.render", "render"),
        ("sources.snapshots", "trainable_only"),
        ("ops.dedup", "exact_dedup"),
        ("ops.lines", "line_dedup"),
        ("ops.chunk", "split"),
    ]

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.retrieval = Retrieval(self.path, seed)
        self.strategies: set[str] = set()
        self.cycle = 0

    def build(self, spark) -> None:
        # base rows, then REFRESH_CYCLES deltas of new turns; a conversation
        # cut at a boundary continues in the next delta
        t = inputs.transcripts(
            self.seed, REFRESH_BASE_TURNS + REFRESH_DELTA_TURNS * REFRESH_CYCLES, MAX_TURNS)
        t = t.append_column(self.VALUE, pa.array([len(x) for x in t["text"].to_pylist()],
                                                 type=pa.int32()))
        parts = [(-1, 0, REFRESH_BASE_TURNS, inputs.FILES)] + [
            (c, REFRESH_BASE_TURNS + c * REFRESH_DELTA_TURNS, REFRESH_DELTA_TURNS, 1)
            for c in range(REFRESH_CYCLES)
        ]
        for cycle, start, n, files in parts:
            inputs.write(t.slice(start, n), self.path(f"pool/cycle={cycle}"), files)
        self.retrieval.build()

    def prepare(self, spark) -> None:
        """Commit the base table and the state that summarizes it, and build
        the embedding index."""
        self.fresh("src", "state", "train", "sft", "ckpt", "index", "codes")
        pool = spark.read.parquet(self.path("pool"))
        commit_snapshot(pool.filter(F.col("cycle") == -1).drop("cycle"),
                        self.path("src"), mode="overwrite")
        incremental_stat_update(spark, self.path("src"), self.path("state"), self.VALUE)
        self.retrieval.prepare(spark)

    def load(self, spark) -> None:
        self.pool = spark.read.parquet(self.path("pool"))
        self.rows = REFRESH_DELTA_TURNS
        self.input_bytes = dir_bytes(self.path("pool/cycle=0"))
        self.retrieval.load(spark)

    def exhausted(self) -> bool:
        return self.cycle >= REFRESH_CYCLES

    def training_set(self, turns, tracer=None):
        right = turns.select("conv_id", "ts", "turn_idx", self.VALUE)
        jitter = F.pmod(F.xxhash64(F.lit(self.seed), "conv_id", "turn_idx"),
                        F.lit(30_000_000))
        labels = right.filter(F.col("turn_idx") % 2 == 0).select(
            "conv_id",
            F.timestamp_micros(F.unix_micros("ts") + jitter).alias("label_ts"),
            (F.col(self.VALUE) > 40).cast("int").alias("label"),
        )
        with _span(tracer, "asof_join_auto", "ops.asof"):
            out = asof_join_auto(labels, right, on="conv_id", ts_col="label_ts",
                                 right_ts_col="ts", value_cols=["turn_idx", self.VALUE])
        plan = out._jdf.queryExecution().sparkPlan().toString()
        self.strategies.add("broadcast" if "BroadcastHashJoin" in plan else "sort_merge")
        return out

    def op(self, spark, tracer=None):
        c = self.cycle
        self.cycle += 1
        delta = self.pool.filter(F.col("cycle") == c).drop("cycle")
        with _span(tracer, "commit_delta", "sources.snapshots", "force"):
            info = commit_snapshot(delta, self.path("src"), mode="append")
        with _span(tracer, "incremental_stat_update", "ops.incremental", "force"):
            incremental_stat_update(spark, self.path("src"), self.path("state"), self.VALUE)
        turns = snapshot_delta(spark, self.path("src"), info.version - 1, info.version)
        self.last_train = self.training_set(turns, tracer)
        with _span(tracer, "commit_train", "sources.snapshots", "force"):
            commit_snapshot(self.last_train, self.path("train"), mode="append")
        sft_in = turns.drop(self.VALUE)
        if tracer is None:
            sft = prepare_sft(sft_in, checkpoint_dir=self.path("ckpt"), **SFT_ARGS)
        else:
            with instrumented(tracer, self.SFT_CALLS):
                self.last_sft = prepare_sft_stages(
                    sft_in, checkpoint_dir=self.path("ckpt"), **SFT_ARGS)
            sft = self.last_sft["split"]
        with _span(tracer, "commit_sft", "sources.snapshots", "force"):
            commit_snapshot(sft, self.path("sft"), mode="append")
        for kind in Retrieval.KINDS:
            self.retrieval.probe(spark, kind, c % ANN_QUERIES, tracer)
        return self.rows

    def check(self, spark):
        fails = []
        train = read_snapshot(spark, self.path("train"))
        r = train.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("label_ts_asof").alias("matched"),
            F.sum((F.col("label_ts_asof") > F.col("label_ts")).cast("int")).alias("late"),
        ).collect()[0]
        if r["late"]:
            fails.append(f"{r['late']} joined turns are later than their label")
        if r["n"] == 0 or r["matched"] != r["n"]:
            fails.append(f"{r['matched']} of {r['n']} labels matched a turn")
        state = read_snapshot(spark, self.path("state")).drop("_src_version")
        full = partial_stat_state(read_snapshot(spark, self.path("src")), self.VALUE)
        d_state, d_full = digest(state.select(*full.columns)), digest(full)
        if d_state != d_full:
            fails.append(f"incremental state {d_state} differs from a full "
                         f"recompute {d_full}")
        # a conversation cut at a delta boundary is prepared in two cycles;
        # both parts must land in the same split
        sft = read_snapshot(spark, self.path("sft"))
        bad = (sft.groupBy("conv_id").agg(F.countDistinct("split").alias("s"))
               .filter(F.col("s") > 1).count())
        if bad:
            fails.append(f"{bad} SFT conversations straddle splits")
        # the last cycle's SFT output again, from the same delta
        v = last_committed_version(spark, self.path("sft"))
        committed = spark.read.parquet(
            *[f["path"] for f in new_files(spark, self.path("sft"), v)])
        src_v = last_committed_version(spark, self.path("src"))
        again = prepare_sft(
            snapshot_delta(spark, self.path("src"), src_v - 1, src_v).drop(self.VALUE),
            max_chars=SFT_ARGS["max_chars"], dedup_lines=SFT_ARGS["dedup_lines"])
        d1, d2 = digest(committed), digest(again)
        if d1 != d2 or d1[0] == 0:
            fails.append(f"SFT digest not stable {d1} {d2}")
        if len(self.strategies) != 1:
            fails.append(f"as-of strategy changed during the run {sorted(self.strategies)}")
        return [f"pit_refresh: {f}" for f in fails + self.retrieval.check()]

    def trace(self, spark, tracer, reps):
        lt = LayerTrace(tracer)
        for _ in range(reps):
            if self.exhausted():
                break
            with tracer.span("op", kind="op"):
                self.op(spark, tracer)
            # the commits executed the lazy as-of and SFT chains; forcing
            # their prefixes alone separates each layer from the writes
            with tracer.span("force_asof", "ops.asof", "force"):
                force(self.last_train)
            for layer, stage in self.SFT_PREFIXES:
                with tracer.span(f"prefix:{stage}", layer, "force"):
                    force(self.last_sft[stage])
        lt.add("sources.snapshots", "commit_delta")
        lt.add("ops.incremental", "incremental_stat_update")
        lt.add("ops.asof", "force_asof")
        lt.add("sources.snapshots", "commit_train", "force_asof")
        # the SFT chain restarts at the materialized cut: forcing
        # ``trainable_only`` reads the committed snapshot
        lt.prefix_chain(["prefix:input", "prefix:render"])
        lt.prefix_chain(["prefix:trainable_only", "prefix:exact_dedup",
                         "prefix:line_dedup", "prefix:split"])
        lt.add("sources.snapshots", "materialize", "prefix:render")
        lt.add("sources.snapshots", "commit_sft", "prefix:split")
        for kind in Retrieval.KINDS:
            lt.add(Retrieval.LAYER[kind], f"probe:{kind}")
        lt.probes = {"ops.similarity": ["cosine", "ivf"], "ops.pq": ["pq"]}
        lt.commit_spans = ["commit_delta", "commit_train", "materialize", "commit_sft"]
        v = last_committed_version(spark, self.path("src"))
        written = new_files(spark, self.path("src"), v)
        lt.extra["ops.incremental.delta_files"] = float(len(written))
        for table in ("state", "train", "sft", os.path.join("ckpt", "sft_rendered")):
            written += new_files(spark, self.path(table),
                                 last_committed_version(spark, self.path(table)))
        lt.written = (written, self.input_bytes)
        lt.extra["ops.asof.broadcast"] = float("broadcast" in self.strategies)
        lt.broadcast_span = "force_asof"
        lt.extra["ops.similarity.ivf_recall_at_10"] = self.retrieval.recall("ivf")
        lt.extra["ops.pq.recall_at_10"] = self.retrieval.recall("pq")
        return lt

    def report(self):
        return {"asof_strategy": sorted(self.strategies),
                "recall_at_10": {k: round(self.retrieval.recall(k), 4)
                                 for k in ("ivf", "pq")}}


WORKLOADS = {w.name: w for w in (PitBackfill, PitRefresh)}


# ----------------------------------------------------------------- layer maths


class LayerTrace:
    """Per-layer figures from a traced run: a workload's ``trace`` records
    which spans make up each layer, and ``metrics`` evaluates that against
    the event-log counters once the log is complete.

    A rule (layer, span, base) adds the median of ``span`` minus the
    median of ``base`` to the layer (time and counters): with ``base`` the
    previous prefix of a lazy chain this is the layer's self time, with
    ``base=None`` the span is the layer's own eager call."""

    FIELDS = ("self_s", "build_ms", "jobs", "shuffle_mb", "spill_mb", "task_skew")

    def __init__(self, tracer):
        self.tracer = tracer
        self.rules: list[tuple[str, str, str | None]] = []
        self.extra: dict[str, float] = {}
        self.scan_bytes = 0
        self.probes: dict[str, list[str]] = {}  # layer -> probe kinds
        self.commit_spans: list[str] = []
        self.broadcast_span: str | None = None
        self.written: tuple[list[dict], int] | None = None  # (files, input bytes)

    def prefix_chain(self, names: list[str]) -> None:
        layer = {s.name: s.layer for s in self.tracer.spans}
        for i, name in enumerate(names):
            self.rules.append((layer[name], name, names[i - 1] if i else None))

    def add(self, layer: str, span: str, base: str | None = None) -> None:
        self.rules.append((layer, span, base))

    def metrics(self, counters) -> dict[str, dict[str, float]]:
        from perfbench.tracing import SpanCounters

        spans = self.tracer.spans
        kids: dict[int | None, list] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)

        def below(span):
            out, stack = [], [span]
            while stack:
                s = stack.pop()
                out.append(s)
                stack.extend(kids.get(s.id, []))
            return out

        def subtree(span) -> SpanCounters:
            total = SpanCounters()
            for s in below(span):
                c = counters.get(s.id)
                if c is None:
                    continue
                for f in ("jobs", "stages", "shuffle_bytes", "spill_bytes",
                          "gc_ms", "broadcast_bytes", "scan_file_bytes"):
                    setattr(total, f, getattr(total, f) + getattr(c, f))
                total.stage_task_ms += c.stage_task_ms
                if c.first_job_ms is not None:
                    total.first_job_ms = min(total.first_job_ms or c.first_job_ms,
                                             c.first_job_ms)
            return total

        med = statistics.median

        def named(name):
            return [s for s in spans if s.name == name]

        def stat(name):
            group = named(name)
            subs = [subtree(s) for s in group]
            return {
                "self_s": med([s.seconds for s in group]),
                "jobs": med([c.jobs for c in subs]),
                "shuffle_mb": med([c.shuffle_bytes for c in subs]) / 1e6,
                "spill_mb": med([c.spill_bytes for c in subs]) / 1e6,
                "broadcast_bytes": med([c.broadcast_bytes for c in subs]),
                "task_skew": subs[-1].task_skew(),
                "plan_ms": med([(c.first_job_ms - s.start_ms) if c.first_job_ms else 0.0
                                for s, c in zip(group, subs)]),
            }

        layers: dict[str, dict[str, float]] = {}

        def layer_row(layer):
            return layers.setdefault(layer, {f: 0.0 for f in self.FIELDS})

        for layer, name, base in self.rules:
            st = stat(name)
            b = stat(base) if base else None
            d = layer_row(layer)
            for f in ("self_s", "jobs", "shuffle_mb", "spill_mb"):
                d[f] += st[f] - (b[f] if b else 0.0)
            d["task_skew"] = max(d["task_skew"], st["task_skew"])

        for layer, kinds in self.probes.items():
            probes = [s for k in kinds for s in named(f"probe:{k}")]
            self.extra[f"{layer}.jobs_per_probe"] = statistics.mean(
                subtree(p).jobs for p in probes)
            if layer == "ops.similarity":
                self.extra[f"{layer}.plan_ms"] = med(
                    [stat(f"collect:{k}")["plan_ms"] for k in kinds])

        # plan construction per operation, by layer
        ops = named("op")
        for layer in {s.layer for s in spans if s.kind == "build"}:
            layer_row(layer)["build_ms"] = med([
                sum(s.seconds * 1000 for s in below(op)
                    if s.kind == "build" and s.layer == layer)
                for op in ops
            ])

        full = [subtree(op) for op in ops]
        self.extra["pass.full_s"] = med([op.seconds for op in ops])
        self.extra["pass.self_sum_s"] = sum(d["self_s"] for d in layers.values())
        self.extra["spark.jobs_per_pass"] = med([c.jobs for c in full])
        self.extra["spark.stages_per_pass"] = med([c.stages for c in full])
        self.extra["spark.gc_ms"] = med([c.gc_ms for c in full])
        if self.scan_bytes:
            self.extra["sources.scan_amp"] = (
                med([c.scan_file_bytes for c in full]) / self.scan_bytes)
        if self.broadcast_span:
            self.extra["ops.asof.broadcast_mb"] = (
                stat(self.broadcast_span)["broadcast_bytes"] / 1e6)
        if self.commit_spans:
            self.extra["sources.snapshots.commit_ms"] = med(
                [s.seconds * 1000 for n in self.commit_spans for s in named(n)])
        if self.written is not None:
            files, input_bytes = self.written
            written = sum(int(f["bytes"]) for f in files)
            self.extra["sources.snapshots.bytes_written"] = float(written)
            self.extra["sources.snapshots.files_written"] = float(len(files))
            self.extra["sources.snapshots.write_amp"] = written / max(1, input_bytes)
        return layers
