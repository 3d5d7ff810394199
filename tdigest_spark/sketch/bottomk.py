"""Bottom-k (KMV / priority) sampling sketch.

Keeps the k items with the smallest xxhash-derived priorities — a
deterministic, mergeable uniform sample over the DISTINCT items of a
stream (Bar-Yossef et al. KMV; Cohen & Kaplan bottom-k sketches):

* merge = union of sets, keep k smallest priorities — associative,
  commutative, and bit-identical regardless of partitioning (priorities
  are content hashes, no RNG);
* the k-th smallest priority estimates distinct count as (k-1)/h_k with
  h_k mapped to (0,1];
* the kept values are a uniform sample of the distinct items, usable for
  quantile spot checks, pairwise-Jaccard between corpora (|A∩B| over the
  union's bottom-k), and debugging at 10^12 scale where collecting raw
  rows is impossible.

Absent in the reference; companion per the training-pipeline requirement
(deterministic distributed sampling).
"""

from __future__ import annotations

import numpy as np

from . import wire
from .hashing import hash64, hash_strings

__all__ = ["BottomK"]


@wire.Layout(b"BTK3", "<IQc")  # k, n_seen, family; prios, values
class BottomK:
    __slots__ = ("k", "n_seen", "prios", "values", "family")

    def __init__(self, k: int = 1024):
        self.k = int(k)
        self.n_seen = 0  # total values observed (with duplicates)
        self.prios = np.empty(0, dtype=np.uint64)  # sorted ascending
        self.values = np.empty(0, dtype=np.int64)  # aligned with prios
        # priority family, set on first ingest: 'x' = splitmix64 over ints,
        # 's' = siphash+splitmix over strings, 'm' = md5-lower-64 decimal.
        # Priorities from different families are INCOMPARABLE — an untagged
        # merge/jaccard across them would return silently biased garbage,
        # so mixing raises instead.
        self.family: str | None = None

    # ------------------------------------------------------------------ build

    def _check_family(self, fam: str) -> None:
        if self.family is None:
            self.family = fam
        elif self.family != fam:
            raise TypeError(
                f"priority family mismatch: sketch holds {self.family!r}, "
                f"got {fam!r} (splitmix64/string/md5 orders are incomparable)"
            )

    def _ingest(self, prios: np.ndarray, values: np.ndarray) -> "BottomK":
        prios = np.concatenate([self.prios, prios])
        values = np.concatenate([self.values, values])
        if prios.shape[0] == 0:
            return self  # e.g. merging two empty partition partials
        order = np.argsort(prios, kind="stable")
        prios, values = prios[order], values[order]
        # drop duplicate priorities (same item hashed twice / both sides
        # of a merge holding it)
        keep = np.r_[True, prios[1:] != prios[:-1]]
        prios, values = prios[keep], values[keep]
        self.prios = prios[: self.k]
        self.values = values[: self.k]
        return self

    def update_ints(self, values: np.ndarray) -> "BottomK":
        v = np.asarray(values)
        if v.shape[0] == 0:
            return self
        self._check_family("x")
        self.n_seen += int(v.shape[0])
        uv = np.unique(v.astype(np.int64))
        return self._ingest(hash64(uv), uv)

    def update_md5_ints(
        self, values: np.ndarray, counts: np.ndarray | None = None
    ) -> "BottomK":
        """Distinct ints under md5-lower-64 priorities (DuckDB
        ``md5_number_lower(CAST(x AS VARCHAR))``), so bottom-k membership —
        and therefore the KMV Jaccard estimate — is reproducible verbatim
        in the SQL oracle. ``counts`` (pre-aggregated path) only feeds
        n_seen; priorities are per-distinct-value either way."""
        from .hashing import md5_lower64_ints

        v = np.asarray(values)
        if v.shape[0] == 0:
            return self
        self._check_family("m")
        self.n_seen += int(
            v.shape[0] if counts is None else np.asarray(counts).sum()
        )
        uv = np.unique(v.astype(np.int64))
        return self._ingest(md5_lower64_ints(uv), uv)

    def update_strings(self, values) -> "BottomK":
        if len(values) == 0:
            return self
        self._check_family("s")
        self.n_seen += len(values)
        h = hash_strings(values)
        # store the hash as the value surrogate for strings
        return self._ingest(h, h.astype(np.int64))

    def merge(self, other: "BottomK") -> "BottomK":
        if other.k != self.k:
            raise ValueError("k mismatch")
        if other.family is not None:
            self._check_family(other.family)
        self.n_seen += other.n_seen
        return self._ingest(other.prios, other.values)

    # ------------------------------------------------------------------ query

    @property
    def size(self) -> int:
        return int(self.prios.shape[0])

    def sample(self) -> np.ndarray:
        """The kept distinct items (a uniform sample when size == k)."""
        return self.values.copy()

    def distinct_estimate(self) -> float:
        """KMV estimator: (k-1)/u_k with u_k = k-th smallest priority in
        (0,1]; exact when fewer than k distinct items were seen."""
        if self.size < self.k:
            return float(self.size)
        u_k = (float(self.prios[-1]) + 1.0) / 2.0**64
        return (self.k - 1) / u_k

    def jaccard(self, other: "BottomK") -> float:
        """Bottom-k Jaccard estimate: fraction of the union's bottom-k
        priorities present in both sketches."""
        if other.k != self.k:
            raise ValueError("k mismatch")
        if self.family is not None and other.family is not None \
                and self.family != other.family:
            raise TypeError(
                f"priority family mismatch: {self.family!r} vs {other.family!r}"
            )
        union = np.union1d(self.prios, other.prios)[: self.k]
        if union.shape[0] == 0:
            return float("nan")
        inter = np.intersect1d(self.prios, other.prios, assume_unique=True)
        both = np.isin(union, inter, assume_unique=True)
        return float(both.sum() / union.shape[0])

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        params = (self.k, self.n_seen, (self.family or "?").encode())
        return self._wire.pack(params, self.prios, self.values)

    @classmethod
    def from_bytes(cls, data: bytes) -> "BottomK":
        (k, n_seen, fam), (prios, values) = cls._wire.unpack(data)
        sk = cls(k=k)
        sk.n_seen, sk.prios, sk.values = n_seen, prios, values
        sk.family = None if fam == b"?" else fam.decode("latin-1")
        return sk
