"""Linear classification for corpus curation.

The quality-classifier stage of an LLM data pipeline (CCNet's
fastText filter, GPT-3's LR-over-features "quality" model; see also
Brown et al. 2020 Appendix A): score every document with a logistic
model over cheap text features and keep/bucket by the score.

Two tiers:

- ``logistic_score``: apply a FIXED weight vector as one JVM
  expression — scoring 100 TB is a pure map, no shuffle, no UDF.
- ``train_logistic``: full-batch gradient-descent training where each
  iteration is ONE map-side-combinable aggregate over the data and
  the driver holds only the (tiny) weight vector — the same
  bounded-driver-loop design as the IVF coarse trainer
  (similarity.py) and the BPE merge learner (bpe.py). No per-row
  Python, no collect of data rows; driver state is O(|features|).

Determinism: per-row gradient contributions are cast to
``decimal(38,10)`` before summing, so the aggregate — and therefore
the whole training trajectory — is identical under any partitioning
or row order (double summation is order-sensitive; decimal is not).

Reference parity note: the reference (event_verify.py) has no ML
surface; this is north-star extension territory (BASELINE.json
"quality scoring").
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["logistic_score", "train_logistic"]

_DEC = "decimal(38,10)"


def logistic_score(
    features: Mapping[str, float | Column],
    bias: float,
) -> Column:
    """``sigmoid(bias + sum(w_i * x_i))`` as a single codegen
    expression. ``features`` maps column name (or Column) -> weight.
    NULL in any feature propagates to a NULL score (document could
    not be featurized — empty text). Rounded to 6 decimals so the
    ``exp`` libm difference between engines (<= 1 ulp) can't surface.
    """
    z: Column = F.lit(float(bias))
    for col, w in features.items():
        c = F.col(col) if isinstance(col, str) else col
        z = z + F.lit(float(w)) * c
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def train_logistic(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    lr: float = 1.0,
    iters: int = 50,
) -> dict:
    """Full-batch logistic regression by gradient descent, distributed
    the only way that scales: the DATA never moves — each iteration
    ships the current O(|features|) weight vector into the plan as
    literals and brings back one aggregated gradient row.

    Per iteration: ``err = sigmoid(w.x + b) - y``; the gradient sums
    ``sum(err * x_j)`` (plus ``sum(err)`` for the bias and the log
    loss) are conditional-sum columns of a single map-side-combinable
    aggregate — one scan, partial aggregation on every executor,
    |features|+2 numbers shuffled. Rows with a NULL feature or label
    are excluded (count reported as ``n_skipped``).

    Driver work is O(iters * |features|): update
    ``w -= lr * (grad/n)``. That is the bounded-driver-loop
    contract — the driver never sees a data row.

    Returns ``{"bias", "weights": {col: w}, "n", "n_skipped",
    "loss"}`` with ``loss`` the final mean log-loss (clamped
    probabilities, so separable data cannot produce inf).
    """
    cols = list(feature_cols)
    if not cols:
        raise ValueError("train_logistic: need at least one feature column")

    y = F.col(label_col).cast("double")
    xs = [F.col(c).cast("double") for c in cols]
    ok = y.isNotNull()
    for x in xs:
        ok = ok & x.isNotNull()

    base = df.select(
        ok.alias("__ok"),
        y.alias("__y"),
        *[xj.alias(f"__x{j}") for j, xj in enumerate(xs)],
    )
    base = base.persist()
    try:
        counts = base.agg(
            F.sum(F.col("__ok").cast("bigint")).alias("n"),
            F.sum((~F.col("__ok")).cast("bigint")).alias("skip"),
        ).collect()[0]
        n, n_skipped = int(counts["n"] or 0), int(counts["skip"] or 0)
        if n == 0:
            raise ValueError("train_logistic: no complete rows to train on")

        w = [0.0] * len(cols)
        b = 0.0
        loss = float("nan")
        zero = F.lit(0).cast(_DEC)
        for _ in range(iters):
            z: Column = F.lit(b)
            for j in range(len(cols)):
                z = z + F.lit(w[j]) * F.col(f"__x{j}")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            # clamp so log loss stays finite on separable data
            pc = F.least(F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12))
            err = p - F.col("__y")
            aggs = [
                F.sum(F.when(F.col("__ok"), err.cast(_DEC)).otherwise(zero)).alias(
                    "gb"
                ),
                F.sum(
                    F.when(
                        F.col("__ok"),
                        (
                            -(
                                F.col("__y") * F.log(pc)
                                + (F.lit(1.0) - F.col("__y"))
                                * F.log(F.lit(1.0) - pc)
                            )
                        ).cast(_DEC),
                    ).otherwise(zero)
                ).alias("ll"),
            ]
            for j in range(len(cols)):
                aggs.append(
                    F.sum(
                        F.when(
                            F.col("__ok"),
                            (err * F.col(f"__x{j}")).cast(_DEC),
                        ).otherwise(zero)
                    ).alias(f"g{j}")
                )
            row = base.agg(*aggs).collect()[0]
            b -= lr * float(row["gb"]) / n
            for j in range(len(cols)):
                w[j] -= lr * (float(row[f"g{j}"]) / n)
            loss = float(row["ll"]) / n
        return {
            "bias": b,
            "weights": dict(zip(cols, w)),
            "n": n,
            "n_skipped": n_skipped,
            "loss": loss,
        }
    finally:
        base.unpersist()


def _reference_train(X, y, lr=1.0, iters=50):
    """Pure-python/numpy twin of ``train_logistic`` for tests: same
    update rule at full double precision (the decimal(38,10) cast in
    the distributed path truncates per-row contributions at 1e-10, so
    trajectories agree to ~1e-6, not bit-for-bit)."""
    import numpy as np

    X = np.asarray(X, dtype=float)
    yv = np.asarray(y, dtype=float)
    n, d = X.shape
    w = [0.0] * d
    b = 0.0
    for _ in range(iters):
        z = X @ np.asarray(w) + b
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - yv
        b -= lr * float(err.sum()) / n
        g = X.T @ err
        for j in range(d):
            w[j] -= lr * (float(g[j]) / n)
    return {"bias": b, "weights": list(w), "n": n}
