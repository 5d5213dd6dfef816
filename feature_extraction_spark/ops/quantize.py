"""Embedding compression beyond PQ: scalar int8 quantization and binary
(sign) quantization with Hamming-distance search.

The three standard working-set reductions for billion-vector ANN serving
(all public: FAISS's ScalarQuantizer / binary indexes; Jegou 2011 for the
PQ sibling in ops/pq.py):

- **SQ8**: per-dimension affine quantization to one byte
  (4x smaller than float32) — ``sq8_fit`` learns per-dim [lo, hi] in ONE
  map-combinable pass (posexplode -> groupBy(dim).min/max; the collect is
  dim rows), ``sq8_encode`` is a map-only native projection,
  ``sq8_topk`` ranks by L2 against the DEQUANTIZED codes
  (asymmetric: the query stays float, so no query quantization error).
- **Binary**: 1 bit per dimension (32x smaller) — sign bits packed into
  32-bit words stored as an ``array<bigint>`` (32 bits per word keeps
  every shift cross-engine safe: DuckDB raises on BIGINT << 63, and a
  sign-bit word would compare differently anyway). ``hamming_topk``
  scores with bit_count(xor) per word — the cheapest possible distance,
  the standard first-pass filter before exact re-ranking.

Scale design (100 TB): fit touches the corpus once and collects dim
rows; encode/serve are map-only single-pass projections with all
constants inlined as literals (broadcast-free); top-k plans as
TakeOrderedAndProject (per-partition heaps — only k rows cross the
wire). Zero Python in any per-row path.

No reference counterpart (LLM-pipeline layer op). All arithmetic is
replayable bit-for-bit in the DuckDB oracles: HALF_UP rounding on
non-negative code values matches round-half-away, and the word packing
uses only bits 0..31 of a BIGINT on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _topk

__all__ = [
    "sq8_fit",
    "sq8_encode",
    "sq8_topk",
    "binary_sign_codes",
    "pack_sign_words",
    "hamming_topk",
]


def sq8_fit(
    df: DataFrame, vec_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Per-dimension [lo, hi] bounds: one posexplode + map-combinable
    groupBy(dim) pass; the collect is dim rows. Deterministic (min/max
    are order-free), so unlike the PQ/IVF trainers this fit needs no
    frozen constants to be oracle-replayable."""
    rows = (
        df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "dim", "x"
            )
        )
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    by_dim = {r["dim"]: (float(r["lo"]), float(r["hi"])) for r in rows}
    return [by_dim[i] for i in range(len(by_dim))]


def _code_expr(vec: Column, i: int, lo: float, hi: float) -> Column:
    """code_i = clamp(round((x - lo) * 255 / (hi - lo)), 0, 255); a
    degenerate dimension (hi == lo) encodes as 0. The scaled value is
    always >= 0, so HALF_UP (Spark) == half-away-from-zero (DuckDB)."""
    x = F.element_at(vec, i + 1).cast("double")
    if hi == lo:
        return F.lit(0)
    # operation order mirrors the oracle's SQL exactly — ((x-lo)*255)/(hi-lo)
    # — so codes agree bit-for-bit even at rounding boundaries
    scaled = (x - F.lit(lo)) * F.lit(255.0) / F.lit(hi - lo)
    return F.least(
        F.greatest(F.round(scaled).cast("int"), F.lit(0)), F.lit(255)
    )


def sq8_encode(
    df: DataFrame,
    bounds: list[tuple[float, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    out_col: str = "sq8_code",
) -> DataFrame:
    """Map-only projection to (id, [keep_cols,] sq8_code: array<int>) —
    the 4x-compressed serving table. All bounds are inlined literals."""
    vec = F.col(vec_col)
    codes = F.array(
        *[_code_expr(vec, i, lo, hi) for i, (lo, hi) in enumerate(bounds)]
    )
    return df.select(
        id_col, *(keep_cols or []), codes.alias(out_col)
    )


def sq8_topk(
    codes_df: DataFrame,
    bounds: list[tuple[float, float]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq8_code",
) -> DataFrame:
    """Asymmetric L2 top-k over SQ8 codes: the query stays float; each
    code dequantizes to lo_i + c_i * (hi_i - lo_i) / 255. The distance is
    an explicit left-to-right chain over dimensions (matching the
    oracle's generated SQL term order bit-for-bit). Map-only +
    TakeOrderedAndProject."""
    if len(query) != len(bounds):
        raise ValueError("query dim != bounds dim")
    code = F.col(code_col)
    dist: Column | None = None
    for i, (lo, hi) in enumerate(bounds):
        # same op order as the oracle: lo + (c*(hi-lo))/255
        deq = F.lit(lo) + F.element_at(code, i + 1).cast("double") * F.lit(
            hi - lo
        ) / F.lit(255.0)
        term = (F.lit(float(query[i])) - deq) * (F.lit(float(query[i])) - deq)
        dist = term if dist is None else dist + term
    scored = codes_df.select(id_col, dist.alias("sq8_dist"))
    return _topk(scored, "sq8_dist", k, id_col, ascending=True)


def pack_sign_words(vec: list[float]) -> list[int]:
    """Driver-side sign packing of a query vector: bit i of word w is set
    iff vec[32w + i] > 0 — the same convention as binary_sign_codes."""
    nwords = (len(vec) + 31) // 32
    words = [0] * nwords
    for j, x in enumerate(vec):
        if x > 0:
            words[j // 32] |= 1 << (j % 32)
    return words


def binary_sign_codes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    out_col: str = "sign_words",
) -> DataFrame:
    """Map-only projection to (id, sign_words: array<bigint>): bit i of
    word w set iff x[32w+i] > 0. 32 bits per word — every shift stays in
    the safe BIGINT range on both engines; distinct bits mean the
    per-word SUM of powers equals the bitwise OR, which is what the
    DuckDB oracle replays."""
    if dim is None:
        probe = df.select(F.size(vec_col).alias("d")).limit(1).collect()
        dim = int(probe[0]["d"]) if probe else 0
    if dim < 1:
        raise ValueError("dim must be >= 1")
    vec = F.col(vec_col)
    nwords = (dim + 31) // 32
    words = []
    for w in range(nwords):
        bits = [
            F.when(
                F.element_at(vec, w * 32 + i + 1) > 0,
                F.lit(1 << i).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            for i in range(min(32, dim - w * 32))
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b  # distinct powers: sum == OR, overflow-free
        words.append(acc)
    return df.select(id_col, F.array(*words).alias(out_col))


def hamming_topk(
    codes_df: DataFrame,
    query_words: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sign_words",
) -> DataFrame:
    """Hamming top-k over packed sign words: popcount(xor) per word,
    summed in explicit word order. Map-only + TakeOrderedAndProject."""
    code = F.col(code_col)
    dist: Column | None = None
    for w, qw in enumerate(query_words):
        term = F.bit_count(
            F.element_at(code, w + 1).bitwiseXOR(F.lit(int(qw)).cast("bigint"))
        ).cast("bigint")
        dist = term if dist is None else dist + term
    scored = codes_df.select(id_col, dist.alias("hamming_dist"))
    return _topk(scored, "hamming_dist", k, id_col, ascending=True)
