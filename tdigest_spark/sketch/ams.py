"""AMS / Tug-of-War sketch for the second frequency moment (F2).

F2 = Σ_v n_v² over distinct values — the SELF-JOIN SIZE, the statistic
that quantifies key skew (F2 / n is the average join fan-out; a hot key
drives it quadratically). It complements the companions: HLL measures
F0 (distinct), CMS point frequencies / inner products, this the global
skewness moment an optimizer or the skew-salting planner needs BEFORE
shuffling (plans/skew.py decides salt counts; F2 tells it whether to).

Count-Sketch formulation of Alon-Matias-Szegedy (the "fast AMS" of
Charikar-Chen-Farach-Colton): ``depth`` independent rows, each hashing
a value to one of ``width`` counters with a ±1 sign; row estimate is
the sum of squared counters (E[Σc²] = F2, Var ≤ 2·F2²/width), and the
returned estimate is the MEDIAN row. Everything is integer arithmetic:

* counters are int64, merge is element-wise addition — bit-identical
  over any partitioning/merge order (like CMS);
* bucket/sign come from one splitmix64 evaluation per (row, value) —
  bucket = low log2(width) bits, sign = the top bit — with row seeds
  that are themselves splitmix64(1..depth), so the whole derivation is
  reproducible verbatim in DuckDB SQL (UHUGEINT mod-2^64 chain), and
  estimates get EXACT oracles;
* the median of an odd number of integer row sums is an integer —
  no float anywhere.

Absent in the reference (welch/tdigest is quantiles-only); companion
per the frequency-moment leg of the sketch literature (AMS STOC'96).
"""

from __future__ import annotations

import numpy as np

from . import wire
from .hashing import hash64

__all__ = ["AMSF2"]


def _seeds(depth: int) -> np.ndarray:
    """Row seeds: splitmix64 of 1..depth — pure constants, inlined into
    the SQL oracle by the query builder."""
    return hash64(np.arange(1, depth + 1, dtype=np.uint64))


@wire.Layout(b"AMS2", "<IIQ")  # depth, width, n_seen; counters
class AMSF2:
    __slots__ = ("depth", "width", "n_seen", "counters")

    def __init__(self, depth: int = 5, width: int = 1024):
        if depth % 2 == 0:
            raise ValueError("depth must be odd (integer median)")
        if width & (width - 1):
            raise ValueError("width must be a power of two (bucket = low bits)")
        self.depth = int(depth)
        self.width = int(width)
        self.n_seen = 0
        self.counters = np.zeros((depth, width), dtype=np.int64)

    # ------------------------------------------------------------------ build

    def update_ints(
        self, values: np.ndarray, counts: np.ndarray | None = None
    ) -> "AMSF2":
        v = np.asarray(values)
        if v.shape[0] == 0:
            return self
        if counts is None:
            v, counts = np.unique(v.astype(np.int64), return_counts=True)
        c = np.asarray(counts, dtype=np.int64)
        self.n_seen += int(c.sum())
        u = v.astype(np.int64).astype(np.uint64)  # two's-complement reinterpret
        mask = np.uint64(self.width - 1)
        for j, seed in enumerate(_seeds(self.depth)):
            h = hash64(u ^ seed)
            bucket = (h & mask).astype(np.int64)
            signed = np.where(h >> np.uint64(63) == 1, -c, c)
            np.add.at(self.counters[j], bucket, signed)
        return self

    def merge(self, other: "AMSF2") -> "AMSF2":
        if (other.depth, other.width) != (self.depth, self.width):
            raise ValueError("shape mismatch")
        self.n_seen += other.n_seen
        self.counters += other.counters
        return self

    # ------------------------------------------------------------------ query

    def row_estimates(self) -> list[int]:
        """Per-row Σc² as exact Python ints (int64 squares can exceed 63
        bits in principle; object-level arithmetic never wraps)."""
        return [sum(int(c) * int(c) for c in row) for row in self.counters]

    def estimate(self) -> int:
        """Median row estimate — exact integer for odd depth."""
        return sorted(self.row_estimates())[self.depth // 2]

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        params = (self.depth, self.width, self.n_seen)
        return self._wire.pack(params, self.counters)

    @classmethod
    def from_bytes(cls, data: bytes) -> "AMSF2":
        (depth, width, n_seen), (counters,) = cls._wire.unpack(data)
        sk = cls(depth=depth, width=width)
        sk.n_seen, sk.counters = n_seen, counters.reshape(depth, width)
        return sk
