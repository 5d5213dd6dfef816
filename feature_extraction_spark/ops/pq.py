"""Product quantization (PQ) for embedding compression and ANN serving.

Jegou, Douze, Schmid — "Product Quantization for Nearest Neighbor Search"
(IEEE TPAMI 2011). The vector is split into ``m`` contiguous subvectors;
each subspace gets its own ``k``-centroid codebook (Lloyd iterations), and
a vector is stored as ``m`` small integer codes. Query scoring uses
asymmetric distance computation (ADC): a per-query lookup table of
``m x k`` partial squared distances is built ONCE on the driver, and
scoring a stored code is ``m`` array lookups — the float vectors are never
read at serving time.

Scale design (100 TB): the embedding column dominates corpus storage
(64 x float64 = 512 B/vec); PQ codes at m=8 are 8 small ints — a 32-64x
working-set reduction, which is what makes a corpus-wide ANN probe fit in
cluster memory at all. Everything row-wise here is a native JVM expression
(slice / aggregate / zip_with / array_position — higher-order exprs run
JVM-side outside whole-stage codegen, still zero Python in the hot path):
``pq_encode`` is a map-only projection, ``pq_adc_topk`` is a projection +
TakeOrderedAndProject (per-partition heaps — no global sort, no shuffle
beyond the final k rows), and training touches the corpus once per Lloyd
iteration with map-combinable per-(subspace, code, dim) averages. Combine
with the persisted IVF index (similarity.build_ann_index) for IVFADC:
coarse cluster pruning + PQ residual scoring.

Reference scope note: the reference repo (kmatton/Feature-Extraction) has
no ANN/embedding surface; this module is part of the additive
LLM-training-data layer (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.io import write_table
from ..sources.snapshots import commit_snapshot, read_snapshot
from .similarity import (
    _commit_centroids,
    _matrix_lit,
    _probe_order,
    _read_centroids,
    _topk,
    ivf_assign,
    ivf_train,
)

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "adc_lut",
    "build_ivfadc_index",
    "ivfadc_topk",
]


def _sq_dist(vec: Column, cent: list[float]) -> Column:
    """Squared L2 distance between an array column and a literal centroid —
    one fused aggregate, no intermediate array materialization."""
    c = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _code_expr(subvec: Column, cents: list[list[float]]) -> Column:
    """Index (0-based) of the nearest centroid; ties -> smallest index
    (array_position returns the FIRST match of the minimum)."""
    dists = F.array(*[_sq_dist(subvec, c) for c in cents])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _subvec(vec: Column, j: int, dsub: int) -> Column:
    # F.slice is 1-indexed
    return F.slice(vec, j * dsub + 1, dsub)


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``m`` independent k-means problems, one per
    subspace, all advanced together in ONE distributed pass per Lloyd
    iteration. Returns ``codebooks[j][c] = centroid`` (length ``dsub``).

    Iterative (like the BPE trainer / LDA): the trainer is exercised by
    value-level pytest (monotone quantization error, determinism); the
    driver-facing correctness query freezes a trained codebook as a
    literal and oracles ``pq_encode`` + ``pq_adc_topk`` exactly in SQL.

    Per iteration: assign = native argmin expression over the broadcast
    codebook literal (no Python), update = posexplode dims + one
    map-combinable groupBy((j, code, dim)).avg — collect is bounded by
    m*k*dsub floats (the codebook), never by the corpus. Deterministic
    init: the k subvectors of the k lowest-xxhash64 ids per subspace.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")

    # deterministic seed rows: k lowest hash ids (collect k*m*dsub floats)
    seed_rows = (
        df.select(F.col(id_col).alias("_id"), vec.alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need >= k={k} vectors, got {len(seed_rows)}")
    codebooks = [
        [[float(x) for x in r["_v"][j * dsub : (j + 1) * dsub]]
         for r in seed_rows]
        for j in range(m)
    ]

    # subspace-exploded view: (id, j, subvector) — built once per iteration
    # from the pruned 2-column scan
    base = df.select(F.col(id_col).alias("_id"), vec.alias("_v"))
    for _ in range(iters):
        subs = base.select(
            "_id",
            F.posexplode(
                F.array(*[_subvec(F.col("_v"), j, dsub) for j in range(m)])
            ).alias("j", "sv"),
        )
        # assign: per-subspace argmin via a CASE over j (m branches, each a
        # native expression against that subspace's literal codebook)
        expr = None
        for j in range(m):
            branch = _code_expr(F.col("sv"), codebooks[j])
            expr = (
                F.when(F.col("j") == j, branch)
                if expr is None
                else expr.when(F.col("j") == j, branch)
            )
        assigned = subs.select("j", F.col("sv"), expr.alias("c"))
        # update: mean per (j, c, dim) — map-combinable, k*m*dsub groups
        means = (
            assigned.select(
                "j", "c", F.posexplode(F.col("sv")).alias("d", "x")
            )
            .groupBy("j", "c", "d")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            upd.setdefault((r["j"], r["c"]), {})[r["d"]] = float(r["mu"])
        for (j, c), dims in upd.items():
            for d, mu in dims.items():
                codebooks[j][c][d] = mu
        # empty clusters keep their previous centroid (standard Lloyd)
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode vectors to PQ codes: ``pq_code`` = array of ``m`` codes,
    ``code_j`` = argmin_c ||subvec_j - codebook[j][c]||^2 (ties -> smallest
    c). Map-only native projection — the serving-path representation."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec = F.col(vec_col).cast("array<double>")
    codes = F.array(
        *[_code_expr(_subvec(vec, j, dsub), codebooks[j]) for j in range(m)]
    )
    cols = [F.col(id_col)] + [F.col(c) for c in (keep_cols or [])]
    return df.select(*cols, codes.alias("pq_code"))


def adc_lut(
    codebooks: list[list[list[float]]], query: list[float]
) -> list[list[float]]:
    """ADC lookup table: ``lut[j][c]`` = squared L2 distance between the
    query's j-th subvector and codebook[j][c]. m*k floats, driver-side."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = []
    for j in range(m):
        q = query[j * dsub : (j + 1) * dsub]
        lut.append(
            [
                float(sum((a - b) * (a - b) for a, b in zip(q, c)))
                for c in codebooks[j]
            ]
        )
    return lut


def _adc_dist(
    code_col: Column, codebooks: list[list[list[float]]], query: list[float]
) -> Column:
    """ADC distance of a PQ code to ``query``: sum over subspaces of
    ``lut[j][code_j]`` — ``m`` array lookups inside one fused
    zip_with/aggregate over the ``adc_lut`` literal."""
    lut = _matrix_lit(adc_lut(codebooks, query))
    return F.aggregate(
        F.zip_with(
            code_col, lut, lambda c, row: F.element_at(row, c + F.lit(1))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate k-NN by ADC over PQ codes (``_adc_dist``), then
    ascending top-k via TakeOrderedAndProject (per-partition heaps; only k
    rows cross the wire). Deterministic tie-break on id."""
    dist = _adc_dist(F.col(code_col), codebooks, query)
    scored = codes.select(F.col(id_col), dist.alias("adc_dist"))
    return _topk(scored, "adc_dist", k, id_col, ascending=True)


# ------------------------------------------------------------------ IVFADC


def build_ivfadc_index(
    df: DataFrame,
    index_dir: str,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = 8,
    k: int = 16,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Persist an IVFADC index (Jegou 2011 §IV; the FAISS billion-scale
    layout): a coarse IVF quantizer partitions the corpus, and PQ encodes
    each vector's RESIDUAL (vector - its coarse centroid) — residual
    magnitudes are much smaller than vector magnitudes, so the same
    codebook budget quantizes far more precisely. Persisted layout:

    - ``{index_dir}/coarse_centroids`` — snapshot-committed (atomic swap)
    - ``{index_dir}/pq_codebooks``     — snapshot-committed (j, c, centroid)
    - ``{index_dir}/codes``            — (id, pq_code) PARTITIONED BY
      ivf_cluster: a probe scans nprobe/n_centroids of the table, reading
      only m small ints per row instead of the float vector.

    The coarse quantizer is the engine's cosine IVF (similarity.ivf_train
    — assignment only partitions the space); ADC scoring over residuals
    approximates exact-L2 ranking within PQ quantization error.
    Zero-norm vectors (NULL coarse cluster) are excluded from the index —
    the same contract as ivf_topk/build_ann_index, which cannot rank them
    either. Training cost: ivf_iters + pq_iters corpus passes, all
    map-combinable; every collect is centroid/codebook-sized."""
    spark = df.sparkSession
    coarse = ivf_train(
        df, n_centroids=n_centroids, iters=ivf_iters, id_col=id_col,
        vec_col=vec_col, seed=seed,
    )
    assigned = ivf_assign(df, coarse, vec_col=vec_col).filter(
        F.col("ivf_cluster").isNotNull()
    )
    resid = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.element_at(_matrix_lit(coarse), F.col("ivf_cluster") + F.lit(1)),
        lambda a, b: a - b,
    )
    rdf = assigned.withColumn("_resid", resid)
    codebooks = pq_train(
        rdf, m=m, k=k, iters=pq_iters, id_col=id_col, vec_col="_resid",
        dim=len(coarse[0]),
    )
    codes = pq_encode(
        rdf, codebooks, id_col=id_col, vec_col="_resid",
        keep_cols=["ivf_cluster"],
    )
    _commit_centroids(spark, coarse, f"{index_dir}/coarse_centroids")
    cb_df = spark.createDataFrame(
        [
            (j, c, [float(x) for x in cent])
            for j, cents in enumerate(codebooks)
            for c, cent in enumerate(cents)
        ],
        "j int, c int, centroid array<double>",
    )
    commit_snapshot(cb_df, f"{index_dir}/pq_codebooks", mode="overwrite")
    write_table(codes, f"{index_dir}/codes", partition_by=["ivf_cluster"])
    return coarse, codebooks


def ivfadc_topk(
    spark,
    index_dir: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVFADC index: coarse centroids are ranked against
    the query driver-side (``_probe_order``), ONE residual ADC lookup
    table is built per probed cluster (nprobe * m * k floats), and only
    the nprobe ``codes`` partitions are scanned — partition pruning on
    ``ivf_cluster IN (...)``, per-row scoring = a CASE over nprobe
    branches each doing m array lookups, top-k = TakeOrderedAndProject.
    No Lloyd jobs, no exchange, no float vectors read: the serving cost is
    nprobe/n_centroids of a scan over m-byte-ish codes. Ascending
    approximate-L2 distances, ties broken on id."""
    coarse = _read_centroids(spark, f"{index_dir}/coarse_centroids")
    cb_rows = read_snapshot(spark, f"{index_dir}/pq_codebooks").collect()
    m = max(r["j"] for r in cb_rows) + 1
    kk = max(r["c"] for r in cb_rows) + 1
    codebooks: list[list[list[float]]] = [[None] * kk for _ in range(m)]
    for r in cb_rows:
        codebooks[r["j"]][r["c"]] = list(r["centroid"])

    probe = _probe_order(query, coarse, nprobe)
    expr = None
    for c in probe:
        q_res = [q - cv for q, cv in zip(query, coarse[c])]
        d_c = _adc_dist(F.col("pq_code"), codebooks, q_res)
        expr = (
            F.when(F.col("ivf_cluster") == c, d_c)
            if expr is None
            else expr.when(F.col("ivf_cluster") == c, d_c)
        )
    codes = spark.read.parquet(f"{index_dir}/codes").filter(
        F.col("ivf_cluster").isin(probe)
    )
    scored = codes.select(F.col(id_col), expr.alias("adc_dist"))
    return _topk(scored, "adc_dist", k, id_col, ascending=True)
