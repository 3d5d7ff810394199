"""HyperLogLog distinct-count sketch (Flajolet et al. 2007, with the small-
range linear-counting correction from the HLL++ paper, Heule et al. 2013).

Companion sketch required by BASELINE.json north_rule; absent in the
reference (whose closest analogue is the Digest.n_unique counter,
/root/reference/tdigest.js:350,360-370). Merge = elementwise register max.
Spark cross-check oracle: approx_count_distinct / exact countDistinct."""

from __future__ import annotations

import numpy as np

from . import wire
from .hashing import hash64, hash_strings

__all__ = ["HLL"]


@wire.Layout(b"HLL2", "<B")  # p; registers
class HLL:
    __slots__ = ("p", "m", "registers")

    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def _update_hashes(self, h: np.ndarray) -> "HLL":
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        nbits = 64 - self.p
        # sentinel bit guarantees the tail is nonzero and caps the rank at
        # nbits+1 (standard HLL convention)
        tail = (h << np.uint64(self.p)) | np.uint64(1 << (self.p - 1))
        # exact vectorized count-leading-zeros (branchless binary descent)
        lz = np.zeros(h.shape[0], dtype=np.int64)
        t = tail.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            s = np.uint64(shift)
            high_zero = (t >> np.uint64(64 - shift)) == 0
            lz += np.where(high_zero, shift, 0)
            t = np.where(high_zero, t << s, t)
        rank = (lz + 1).astype(np.uint8)
        np.maximum.at(self.registers, idx, rank)
        return self

    def update_ints(
        self, values: np.ndarray, assume_unique: bool = False
    ) -> "HLL":
        if len(values) == 0:
            return self
        # HLL is set-semantics: dedup first so the hash + register update
        # touch each distinct value once (huge win on token data);
        # assume_unique lets callers that already deduped skip the sort
        v = np.asarray(values)
        if not assume_unique:
            v = np.unique(v)
        return self._update_hashes(hash64(v))

    def update_strings(self, values) -> "HLL":
        if len(values) == 0:
            return self
        return self._update_hashes(hash_strings(values))

    def merge(self, other: "HLL") -> "HLL":
        if other.p != self.p:
            raise ValueError("p mismatch")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        m = float(self.m)
        regs = self.registers.astype(np.float64)
        est = _alpha(self.m) * m * m / np.sum(np.exp2(-regs))
        zeros = float(np.count_nonzero(self.registers == 0))
        if est <= 2.5 * m and zeros > 0:
            return m * np.log(m / zeros)  # linear counting
        return float(est)

    def to_bytes(self) -> bytes:
        return self._wire.pack((self.p,), self.registers)

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLL":
        (p,), (registers,) = cls._wire.unpack(data)
        h = cls(p=p)
        h.registers = registers.reshape(h.m)
        return h


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)
