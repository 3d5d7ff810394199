"""Theta sketch (KMV form) — set-algebra cardinality estimation.

The one set-algebra gap in the companion family: HLL unions losslessly
but cannot intersect or difference (register-wise ops are biased and
unbounded); bottom-k gives Jaccard but not cardinalities of derived
sets. The theta sketch (Dasgupta et al., "Theta-Sketch Framework",
and the Apache DataSketches family) closes it: each set is summarized
by a threshold ``theta`` and the retained hash values strictly below
it, and ANY set expression (A ∪ B, A ∩ B, A \\ B) is estimated as

    |{retained hashes of the expression below min(theta)}| / theta_frac

with ``theta_frac = theta / 2^64``.

Design notes (Spark-first, oracle-exact):

* The BUILD/MERGE path is exactly the repo's bottom-k (KMV) sketch —
  keep the k smallest content-hash priorities of the distinct items —
  which is a pure function of the global distinct-hash set and hence
  bit-identical under any partitioning / merge order (proven in
  tests/test_companions.py for BottomK). ``ThetaSketch`` NORMALIZES a
  bottom-k state into theta form at query time:
      saturated (size ≥ k): theta = k-th smallest priority,
                            retained = the k-1 priorities below it;
      unsaturated:          theta = 2^64, retained = everything.
* With md5-lower-64 priorities (DuckDB ``md5_number_lower``), every
  membership decision — hence every estimate VALUE — is reproducible
  verbatim in SQL: bottom-k = ``ROW_NUMBER() ... <= k``, theta = the
  row at rn = k, and the estimate is one double division that IEEE-754
  pins to the same bits in numpy and DuckDB.
* Set operations return compact, read-only derived sketches (explicit
  theta + retained array) that compose: (A ∩ B) \\ C works.

Absent in the reference (welch/tdigest has no set sketches); companion
per the training-pipeline requirement — e.g. "how many users/docs are
in shard A but not shard B" at 10^12 scale without a distinct join.
"""

from __future__ import annotations

import numpy as np

from . import wire
from .bottomk import BottomK

__all__ = ["ThetaSketch"]

_TWO64 = 2.0**64


# k, theta - 1 (2^64 does not fit a u8), n_seen, family; prios
@wire.Layout(b"THS2", "<IQQc")
class ThetaSketch:
    """Compact theta form: ``theta`` in (0, 2^64], ``prios`` sorted
    ascending, all strictly below theta. Build via :meth:`from_bottomk`
    (the mergeable distributed path) or compose via set operations."""

    __slots__ = ("k", "theta", "prios", "n_seen", "family")

    def __init__(
        self,
        k: int = 256,
        theta: int = 2**64,
        prios: np.ndarray | None = None,
        n_seen: int = 0,
        family: str | None = None,
    ):
        if not (0 < theta <= 2**64):
            raise ValueError("theta out of (0, 2^64]")
        self.k = int(k)
        self.theta = int(theta)
        self.prios = (
            np.empty(0, dtype=np.uint64) if prios is None else np.asarray(prios, dtype=np.uint64)
        )
        if self.prios.shape[0] and int(self.prios[-1]) >= self.theta:
            raise ValueError("retained priority >= theta")
        self.n_seen = int(n_seen)
        self.family = family

    # ------------------------------------------------------------- build

    @classmethod
    def from_bottomk(cls, bk: BottomK) -> "ThetaSketch":
        """Normalize a (merged) bottom-k state into theta form. The
        bottom-k build is the distributed path (associative, bit-exact);
        this conversion is a pure local function of the final state."""
        if bk.size >= bk.k:
            theta = int(bk.prios[bk.k - 1])
            prios = bk.prios[: bk.k - 1].copy()
        else:
            theta = 2**64
            prios = bk.prios.copy()
        return cls(k=bk.k, theta=theta, prios=prios, n_seen=bk.n_seen, family=bk.family)

    @classmethod
    def from_bottomk_bytes(cls, data: bytes) -> "ThetaSketch":
        return cls.from_bottomk(BottomK.from_bytes(data))

    # ------------------------------------------------------------- query

    def _check(self, other: "ThetaSketch") -> None:
        if other.k != self.k:
            raise ValueError("k mismatch")
        if (
            self.family is not None
            and other.family is not None
            and self.family != other.family
        ):
            raise TypeError(
                f"priority family mismatch: {self.family!r} vs {other.family!r}"
            )

    @property
    def theta_frac(self) -> float:
        """theta / 2^64 as a double. Exact power-of-two scaling: the
        only rounding is the uint64→double cast, which DuckDB's
        ``CAST(h AS DOUBLE)`` performs identically (round-to-nearest)."""
        return 1.0 if self.theta == 2**64 else float(self.theta) / _TWO64

    @property
    def size(self) -> int:
        return int(self.prios.shape[0])

    def estimate(self) -> float:
        """|retained| / theta_frac — exact when theta == 2^64."""
        return float(self.size) / self.theta_frac

    # ------------------------------------------------------------- algebra

    def _pair_theta(self, other: "ThetaSketch") -> int:
        return min(self.theta, other.theta)

    def _below(self, thr: int) -> np.ndarray:
        if thr >= self.theta:
            return self.prios
        return self.prios[self.prios < np.uint64(thr)]

    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        """Theta union. NOTE: unlike the bottom-k build merge, a trimmed
        theta union is not bit-associative across orderings — use it on
        FINAL sketches, not as the distributed fold (that's bottom-k)."""
        self._check(other)
        thr = self._pair_theta(other)
        cand = np.union1d(self._below(thr), other._below(thr))
        if cand.shape[0] > self.k:
            thr = int(cand[self.k])
            cand = cand[: self.k]
        return ThetaSketch(
            k=self.k,
            theta=thr,
            prios=cand,
            n_seen=self.n_seen + other.n_seen,
            family=self.family or other.family,
        )

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        self._check(other)
        thr = self._pair_theta(other)
        # retained sets are already strictly below their own thetas, so
        # members of both sides are strictly below min(theta) — no filter
        cand = np.intersect1d(self.prios, other.prios, assume_unique=True)
        return ThetaSketch(
            k=self.k, theta=thr, prios=cand,
            n_seen=self.n_seen + other.n_seen,
            family=self.family or other.family,
        )

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        """A \\ B: hashes of A below min(theta) that B — complete below
        its own theta ≥ min(theta) — provably does not contain."""
        self._check(other)
        thr = self._pair_theta(other)
        cand = np.setdiff1d(self._below(thr), other.prios, assume_unique=True)
        return ThetaSketch(
            k=self.k, theta=thr, prios=cand,
            n_seen=self.n_seen + other.n_seen,
            family=self.family or other.family,
        )

    def union_estimate(self, other: "ThetaSketch") -> float:
        return self.union(other).estimate()

    def intersect_estimate(self, other: "ThetaSketch") -> float:
        return self.intersect(other).estimate()

    def a_not_b_estimate(self, other: "ThetaSketch") -> float:
        return self.a_not_b(other).estimate()

    # ------------------------------------------------------------- serde

    def to_bytes(self) -> bytes:
        fam = (self.family or "?").encode()
        return self._wire.pack((self.k, self.theta - 1, self.n_seen, fam), self.prios)

    @classmethod
    def from_bytes(cls, data: bytes) -> "ThetaSketch":
        (k, theta_m1, n_seen, fam), (prios,) = cls._wire.unpack(data)
        return cls(
            k=k, theta=theta_m1 + 1, prios=prios, n_seen=n_seen,
            family=None if fam == b"?" else fam.decode("latin-1"),
        )
