"""Misra-Gries frequent-items summary (Misra & Gries 1982), in the
mergeable form of Agarwal et al., "Mergeable Summaries" (PODS 2012):
merge = add counters, then subtract the (k+1)-th largest counter value
from every counter and drop the non-positive — error bounds ADD, giving
``f(x) - n/(k+1) <= est(x) <= f(x)`` for the combined stream no matter
how it was partitioned. Companion sketch per BASELINE.json north_rule
(frequent tokens / heavy-hitter vocabulary over 10^12-token streams);
absent in the reference.

Two usage modes:

* guarantee mode — any item with true frequency > n/(k+1) is present in
  the summary, so a cheap exact second pass over just the candidate set
  (broadcast ``isin`` filter + HAVING cnt*(k+1) > n) yields the EXACT
  heavy-hitter set of a 100 TB stream with one full scan + one tiny scan;
* exact mode — when the true cardinality never exceeds k no decrement
  ever fires and the counters are exact counts (the configuration the
  driver oracle uses; tests exercise the decrement path on Zipf data).

State is O(k); the summary is NOT bit-identical across partition layouts
(decrement amounts depend on batching) but its guarantee is — tests
assert the bounds, not byte equality (same policy as t-digest/KLL).
"""

from __future__ import annotations

import numpy as np

from . import wire

__all__ = ["MisraGries"]


# k, n, err, kind; counts, then keys (int64, or a string column)
@wire.Layout(b"MGS2", "<Iqqc")
class MisraGries:
    __slots__ = ("k", "n", "err", "counters", "kind")

    def __init__(self, k: int = 64):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = int(k)
        self.n = 0  # total stream length (with duplicates)
        self.err = 0  # total decrement applied = max undercount of any est
        self.counters: dict = {}
        self.kind: str | None = None  # 's' (str) or 'i' (int), set on first use

    # ------------------------------------------------------------------ build

    def _check_kind(self, kind: str) -> None:
        if self.kind is None:
            self.kind = kind
        elif self.kind != kind:
            raise TypeError(f"sketch holds {self.kind!r} keys, got {kind!r}")

    def _canon_keys(self, u: np.ndarray) -> np.ndarray:
        """Canonicalize batch keys ONCE at ingest so in-memory counters and
        the serde (int64 or utf-8 of the str key) agree exactly: without
        this, float/bytes keys would silently change identity across a
        to_bytes/from_bytes round trip (str(b'x') == \"b'x'\") and mix
        incomparable key types in one dict."""
        k = u.dtype.kind
        if k in "iu":
            self._check_kind("i")
            return u.astype(np.int64)
        if k == "U":
            self._check_kind("s")
            return u.astype(object)
        if k == "f":
            # float columns are keyed by their repr — stable and serde-safe
            self._check_kind("s")
            return np.asarray([str(x) for x in u.tolist()], dtype=object)
        if k == "O":
            first = u[0]
            if isinstance(first, str):
                self._check_kind("s")
                return u
            if isinstance(first, (int, np.integer)):
                self._check_kind("i")
                return np.asarray(u.tolist(), dtype=np.int64)
            if isinstance(first, float):
                self._check_kind("s")
                return np.asarray([str(x) for x in u.tolist()], dtype=object)
            raise TypeError(
                f"unsupported MisraGries key type {type(first).__name__} "
                "(int and str keys only; hash or cast first)"
            )
        raise TypeError(f"unsupported MisraGries key dtype {u.dtype}")

    def _ingest(self, uniques, counts) -> None:
        # vectorized combine: existing counters ++ batch, one unique-based
        # reduction — no per-item Python dict ops on the partials hot path
        batch_c = np.asarray(counts, dtype=np.int64)
        if self.counters:
            keys = list(self.counters.keys())
            keys.extend(uniques)
            vals = np.concatenate(
                [
                    np.fromiter(
                        self.counters.values(),
                        dtype=np.int64,
                        count=len(self.counters),
                    ),
                    batch_c,
                ]
            )
        else:
            keys = list(uniques)
            vals = batch_c
        arr = (
            np.asarray(keys, dtype=np.int64)
            if self.kind == "i"
            else np.asarray(keys, dtype=object)
        )
        uk, inv = np.unique(arr, return_inverse=True)
        agg = np.zeros(uk.shape[0], dtype=np.int64)
        np.add.at(agg, inv, vals)
        if uk.shape[0] > self.k:
            # batched reduction: subtract the (k+1)-th largest counter from
            # all — at most k survive (everything <= the pivot drops)
            cut = uk.shape[0] - (self.k + 1)
            pivot = int(np.partition(agg, cut)[cut])
            agg = agg - pivot
            keep = agg > 0
            uk, agg = uk[keep], agg[keep]
            self.err += pivot
        self.counters = dict(zip(uk.tolist(), agg.tolist()))

    def update(self, values: np.ndarray) -> "MisraGries":
        v = np.asarray(values).ravel()
        if v.shape[0] == 0:
            return self
        uv, uc = np.unique(v, return_counts=True)
        self.n += int(v.shape[0])
        self._ingest(self._canon_keys(uv), uc)
        return self

    def update_agg(self, uniques: np.ndarray, counts: np.ndarray) -> "MisraGries":
        u = np.asarray(uniques).ravel()
        c = np.asarray(counts, dtype=np.int64).ravel()
        if u.shape[0] == 0:
            return self
        self.n += int(c.sum())
        # pre-aggregated uniques may still repeat across batches of one
        # partition; _ingest's unique-combine re-aggregates them
        self._ingest(self._canon_keys(u), c)
        return self

    def merge(self, other: "MisraGries") -> "MisraGries":
        if other.k != self.k:
            raise ValueError("k mismatch")
        if other.kind is not None:
            self._check_kind(other.kind)
        self.n += other.n
        self.err += other.err
        if other.counters:
            items = list(other.counters.items())
            self._ingest([v for v, _ in items], [c for _, c in items])
        return self

    # ------------------------------------------------------------------ query

    def estimate(self, item) -> tuple[int, int]:
        """(lower, upper) bound on the item's true count:
        est <= f <= est + err."""
        est = int(self.counters.get(item, 0))
        return est, est + self.err

    def candidates(self) -> list:
        """Every item that COULD have f > n/(k+1) — guaranteed superset of
        the true heavy hitters."""
        return sorted(self.counters)

    def heavy_hitters(self, threshold_denom: int | None = None) -> list[tuple]:
        """(item, est) for items whose estimate alone clears
        n/threshold_denom (default k+1). When no decrement ever fired
        (err == 0) these estimates are exact counts."""
        d = (self.k + 1) if threshold_denom is None else int(threshold_denom)
        return sorted(
            (v, c) for v, c in self.counters.items() if c * d > self.n
        )

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        keys = sorted(self.counters)
        counts = np.array([self.counters[v] for v in keys], dtype=np.int64)
        cols = wire.strings(keys) if self.kind == "s" else [np.array(keys, dtype=np.int64)]
        params = (self.k, self.n, self.err, (self.kind or "?").encode())
        return self._wire.pack(params, counts, *cols)

    @classmethod
    def from_bytes(cls, data: bytes) -> "MisraGries":
        (k, n, err, kind), (counts, *cols) = cls._wire.unpack(data)
        sk = cls(k=k)
        sk.n, sk.err = n, err
        sk.kind = None if kind == b"?" else kind.decode("latin-1")
        keys = wire.unstrings(*cols) if sk.kind == "s" else cols[0].tolist()
        sk.counters = dict(zip(keys, counts.tolist()))
        return sk
