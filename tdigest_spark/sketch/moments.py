"""Moments sketch: exact power sums (n, Σx, Σx², Σx³, Σx⁴) as a
mergeable aggregate over integer-valued columns.

The moments-sketch line of work (Gan, Ding, Tai, Sharan, Bailis — VLDB
2018) observes that low-order moments are the smallest mergeable summary
there is: O(k) numbers, merge = element-wise addition, and they answer
mean / variance / skewness / kurtosis (and, with a maximum-entropy
solve, approximate quantiles) from a constant-size state. This module
implements the moment-collection half with EXACT integer arithmetic:

* inputs are integer-valued (the token-id / token-length / quantity
  columns this engine sketches); power sums accumulate as Python ints
  (arbitrary precision), so the state is bit-identical over ANY
  partitioning or merge order — the strongest merge law in the repo,
  shared with HLL/CMS/Bloom;
* accumulation first unique-aggregates the batch (duplicate-heavy token
  columns make #uniques ≪ #rows; quantities have ~50 distinct values),
  then folds Σ c·vᵖ per unique in exact int arithmetic — no int64
  overflow cliff for any input magnitude;
* derived statistics convert ONE exact integer numerator/denominator
  pair to double at the very end, so an SQL engine with int128
  arithmetic (DuckDB HUGEINT) reproduces every output bit — the
  standardized-moment formulas below are spelled identically in the
  query oracles. The int128 SQL twin ceils out near |Σx⁴| ≥ 2¹²⁷
  (≈1.7e38); the Python side itself never overflows.

Absent in the reference (welch/tdigest is quantiles-only); companion
per the mergeable-summaries survey (Agarwal et al., PODS'12) and the
moments-sketch paper above.
"""

from __future__ import annotations

import math

import numpy as np

from . import wire

__all__ = ["MomentsSketch"]


# k; n and the k power sums as decimal strings (exact at any magnitude)
@wire.Layout(b"MOM2", "<I")
class MomentsSketch:
    """Exact (n, Σx¹..Σxᵏ) over integer values; default k=4."""

    __slots__ = ("k", "n", "sums")

    def __init__(self, k: int = 4):
        if not 1 <= k <= 8:
            raise ValueError("k must be in [1, 8]")
        self.k = int(k)
        self.n = 0
        self.sums = [0] * self.k  # Python ints: exact at any magnitude

    # ------------------------------------------------------------------ build

    def update_ints(
        self, values: np.ndarray, counts: np.ndarray | None = None
    ) -> "MomentsSketch":
        v = np.asarray(values)
        if v.shape[0] == 0:
            return self
        if counts is None:
            v, counts = np.unique(v.astype(np.int64), return_counts=True)
        self.n += int(np.asarray(counts).sum())
        for val, cnt in zip(v.tolist(), np.asarray(counts).tolist()):
            val, cnt, p = int(val), int(cnt), 1
            for i in range(self.k):
                p *= val
                self.sums[i] += cnt * p
        return self

    def merge(self, other: "MomentsSketch") -> "MomentsSketch":
        if other.k != self.k:
            raise ValueError("order mismatch")
        self.n += other.n
        self.sums = [a + b for a, b in zip(self.sums, other.sums)]
        return self

    # ------------------------------------------------------------------ query

    def mean(self) -> float:
        return float(self.sums[0]) / float(self.n)

    def variance(self) -> float:
        """Population variance as one exact-int ratio: (n·Σx² − (Σx)²)/n²."""
        n, s1, s2 = self.n, self.sums[0], self.sums[1]
        return float(n * s2 - s1 * s1) / float(n * n)

    def skewness(self) -> float:
        """Population skewness m₃/σ³ with m₃ = (n²Σx³ − 3nΣxΣx² + 2(Σx)³)/n³;
        σ³ is spelled var·sqrt(var) (sqrt is correctly rounded IEEE, so the
        whole expression is deterministic and SQL-reproducible)."""
        n, s1, s2, s3 = self.n, *self.sums[:3]
        var = self.variance()
        num = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
        return float(num) / float(n * n * n) / (var * math.sqrt(var))

    def kurtosis(self) -> float:
        """Population kurtosis m₄/σ⁴ with
        m₄ = (n³Σx⁴ − 4n²ΣxΣx³ + 6n(Σx)²Σx² − 3(Σx)⁴)/n⁴."""
        n, s1, s2, s3, s4 = self.n, *self.sums[:4]
        var = self.variance()
        num = (
            n * n * n * s4
            - 4 * n * n * s1 * s3
            + 6 * n * s1 * s1 * s2
            - 3 * s1 * s1 * s1 * s1
        )
        return float(num) / float(n * n * n * n) / (var * var)

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        return self._wire.pack((self.k,), *wire.strings([self.n, *self.sums]))

    @classmethod
    def from_bytes(cls, data: bytes) -> "MomentsSketch":
        (k,), cols = cls._wire.unpack(data)
        sk = cls(k=k)
        sk.n, *sk.sums = [int(v) for v in wire.unstrings(*cols)]
        return sk
