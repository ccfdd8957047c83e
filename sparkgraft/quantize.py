"""Int8 embedding quantization: the storage/bandwidth tier for
vector columns at corpus scale.

A 64-dim float32 embedding is 256 bytes; symmetric per-vector int8
quantization stores it as 64 tinyints + one double scale (~72 bytes) —
a ~3.6x cut in parquet footprint, scan bytes, shuffle bytes, and cache
pressure for every candidate-generation stage that only needs
approximate geometry. (The scale is a DOUBLE deliberately: absmax/127
of a subnormal float32 component underflows a float32 scale to 0,
breaking the round-trip error bound — found by the hypothesis
invariant test.) The key property making this safe for similarity
work: COSINE IS SCALE-INVARIANT, so the per-vector scale cancels and
quantized cosine equals the cosine of the raw int arrays — error comes
only from rounding (~1/254 per component), not from the scale.

Tiering discipline (same proposer/verifier split as the dedup ops):
quantized vectors PROPOSE (pre-score / bucket / shortlist), full-
precision vectors DISPOSE (exact re-rank of the shortlist). The
byte-savings claim applies to a MATERIALIZED quantized column (store
it next to — or instead of — the float column; the prescore scan then
reads only the int8 bytes). ``cosine_topk_quantized`` quantizes on the
fly from the float column, which demonstrates the tier's math and
recall but not its scan savings.

Everything here is JVM-side higher-order functions (transform /
zip_with / aggregate) — no Python anywhere. HOF lambdas run on the
interpreted expression path, not whole-stage codegen, so per-vector
work is kept O(dim): scalar subexpressions that lambdas reference
(the scale, the norms) are LET-BOUND via a single-element transform
(the lambda variable is evaluated once) instead of re-inlined per
element.

Reference parity note: the reference has no vector surface at all;
this extends the similarity extension (similarity.py, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "quantize_int8",
    "dequantize_int8",
    "quantized_cosine",
    "cosine_topk_quantized",
]


def quantize_int8(vec: Column | str) -> Column:
    """Symmetric per-vector int8 quantization:
    ``struct(scale double, q array<tinyint>)`` with
    ``scale = max(|v|) / 127`` and ``q_i = round(v_i / scale)``.

    NULL in -> NULL out; the all-zero vector gets scale 0 and an
    all-zero q (dequantizes to itself). |v_i / scale| <= 127 by
    construction, so no clamp is needed.

    The scale is let-bound (single-element transform) so the absmax
    fold runs ONCE per vector; referencing the fold directly inside
    the per-element lambda would re-evaluate it per element —
    O(dim^2) per vector on the interpreted HOF path."""
    v = F.col(vec) if isinstance(vec, str) else vec
    absmax = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = absmax / F.lit(127.0)

    def build(s):
        q = F.transform(
            v,
            lambda x: F.when(s > 0, F.round(x.cast("double") / s))
            .otherwise(F.lit(0.0))
            .cast("tinyint"),
        )
        return F.struct(s.alias("scale"), q.alias("q"))

    let_bound = F.transform(F.array(scale), build)[0]
    return F.when(v.isNotNull(), let_bound)


def dequantize_int8(qv: Column | str) -> Column:
    """``array<float>`` reconstruction; max per-component error is
    scale/2 = max(|v|)/254."""
    s = F.col(qv) if isinstance(qv, str) else qv
    return F.transform(
        s.getField("q"),
        lambda x: (x.cast("double") * s.getField("scale").cast("double")).cast(
            "float"
        ),
    )


def quantized_cosine(qa: Column | str, qb: Column | str) -> Column:
    """Cosine from the int8 arrays alone — the scales cancel. Integer
    dot/norms accumulate in BIGINT (64*127*127 << 2^63, no overflow
    for any realistic dim); zero-norm sides yield NULL (Spark's
    non-ANSI division returns NULL on a zero divisor, so each norm
    fold is evaluated exactly once — no guard branch re-evaluating
    them)."""
    a = (F.col(qa) if isinstance(qa, str) else qa).getField("q")
    b = (F.col(qb) if isinstance(qb, str) else qb).getField("q")

    def idot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, r: p.cast("bigint") * r.cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + t,
        )

    na = F.sqrt(idot(a, a).cast("double"))
    nb = F.sqrt(idot(b, b).cast("double"))
    return F.try_divide(idot(a, b).cast("double"), na * nb)


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rerank_factor: int = 4,
) -> DataFrame:
    """Two-tier exact-ish top-k: the int8 tier pre-scores the full
    corpus scan (4x fewer scan/shuffle bytes than float32) and keeps
    ``k * rerank_factor`` candidates per query; the float tier re-ranks
    only those with the exact rounded cosine used everywhere else
    (:func:`sparkgraft.similarity.cosine`), identical tiebreaks to
    ``cosine_topk``. Recall is a function of rerank_factor and the
    quantization error (~1/254 per component); asserted against the
    exact baseline in tests/test_quantize.py.

    Returns ``(query_id, rank, vec_id, cos_sim)``.
    """
    from pyspark.sql import Window

    from .relational import spread
    from .similarity import cosine

    cq = spread(corpus.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col), quantize_int8(F.col(vec_col)).alias("__cq")
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_int8(F.col(vec_col)).alias("__qq"),
    )
    pre_w = Window.partitionBy("query_id").orderBy(
        F.desc("__qcos"), F.asc(id_col)
    )
    shortlist = (
        cq.crossJoin(F.broadcast(qq))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col, quantized_cosine("__cq", "__qq").alias("__qcos")
        )
        .withColumn("__prerank", F.row_number().over(pre_w))
        .where(F.col("__prerank") <= k * rerank_factor)
        .select("query_id", id_col)
    )
    rescored = (
        shortlist.join(
            corpus.select(F.col(id_col), F.col(vec_col).alias("__cvec")), id_col
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("__qvec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("__cvec"), F.col("__qvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cos_sim")
    )
