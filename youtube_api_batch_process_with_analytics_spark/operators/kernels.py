"""NumPy twins of Spark's cosine numerics, for the Arrow kernels.

An Arrow kernel may stand in for a Spark expression only if it returns
the same doubles bit for bit. For cosine scoring that takes three pieces:

- ``fold_dot`` / ``fold_norm``: the left fold Spark evaluates for
  ``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, x) -> acc + x)``
  — from 0.0, one correctly rounded product and one correctly rounded
  add per dimension, in index order. No BLAS: a GEMM sums in its own
  order, and its doubles differ from the fold's in the last ulp.
- ``round6``: Spark's ``round(y, 6)`` (HALF_UP on the double's decimal
  repr), vectorized, with ``_spark_round6`` as its scalar twin.
- ``_round6_ge_cutoff``: the double cutoff equivalent to
  ``round(y, 6) >= tau``, for a kernel that only thresholds.
"""

from __future__ import annotations

import numpy as np


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ_d a[..., d]·b[..., d] in Spark's fold order. The leading axes
    broadcast, so ``fold_dot(v[:, None, :], q[None, :, :])`` scores every
    row of ``v`` against every row of ``q`` without materializing the
    pairs."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        acc = acc + a[..., d] * b[..., d]
    return acc


def fold_norm(a: np.ndarray) -> np.ndarray:
    """``sqrt(aggregate(transform(a, x -> x * x), 0.0, (acc, x) -> acc + x))``."""
    return np.sqrt(fold_dot(a, a))


def _spark_round6(y: float) -> float:
    """Bit-exact Python twin of Spark's ``round(double, 6)``: Spark's
    Round expression goes through BigDecimal.valueOf(y) — the SHORTEST
    round-trip decimal of the double, exactly what Python ``repr``
    produces — then setScale(6, HALF_UP) (ties away from zero, same as
    decimal.ROUND_HALF_UP) and back to double (correctly rounded, same
    as ``float(Decimal)``). The context's precision covers every finite
    double at scale 6, as BigDecimal's unlimited precision does."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    return float(
        Decimal(repr(float(y))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP, context=Context(prec=400)
        )
    )


def round6(y: np.ndarray) -> np.ndarray:
    """Spark's ``round(y, 6)`` over a float64 array, bit for bit.

    The HALF_UP estimate ``floor(|y|·1e6 + 0.5) / 1e6`` is exact (the
    division is correctly rounded, as BigDecimal's ``doubleValue`` is)
    unless |y|·1e6 lies within float error of a .5 tie, where the answer
    depends on the double's decimal repr. |y|·1e6 and that repr each sit
    within 2^-53 relative of the real value, so a 2^-40 window holds
    every such tie; those values, and any |y|·1e6 ≥ 2^50, go through
    ``_spark_round6``. NaN and ±inf pass through as in Spark, and no
    result is -0.0 (BigDecimal has no negative zero)."""
    y = np.asarray(y, dtype=np.float64)
    with np.errstate(invalid="ignore", over="ignore"):
        s = np.abs(y) * 1e6
        out = np.copysign(np.floor(s + 0.5), y) / 1e6
        near = np.isfinite(y) & (
            (np.abs(s - np.floor(s) - 0.5) <= s * 2.0**-40) | (s >= 2.0**50)
        )
    if near.any():
        out[near] = [_spark_round6(v) for v in y[near]]
    return out + 0.0


def _round6_ge_cutoff(tau: float) -> float:
    """Smallest double y with ``_spark_round6(y) >= tau`` — rounding to a
    fixed scale is monotone non-decreasing in y, so the Spark-side gate
    ``round(cos, 6) >= tau`` is EXACTLY the vectorizable ``cos >= cutoff``
    for every double cos. Found by bisection over the total-ordered
    double bit encoding (64 exact Decimal evaluations, once per kernel
    launch, driver-side)."""
    import struct

    def pred(y: float) -> bool:
        return _spark_round6(y) >= tau

    if pred(-2.0):
        return -2.0
    if not pred(2.0):
        return float("inf")

    int64_min = -(2**63)

    def to_key(y: float) -> int:
        b = struct.unpack("<q", struct.pack("<d", y))[0]
        return b if b >= 0 else int64_min - b

    def from_key(k: int) -> float:
        b = k if k >= 0 else int64_min - k
        return struct.unpack("<d", struct.pack("<q", b))[0]

    lo, hi = to_key(-2.0), to_key(2.0)  # pred(lo) False, pred(hi) True
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if pred(from_key(mid)):
            hi = mid
        else:
            lo = mid
    return from_key(hi)
