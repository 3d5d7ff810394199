"""KLL-style quantile sketch (Karnin, Lang, Liberty 2016) with deterministic
alternating compaction offsets (the derandomized MRL-style variant) so that a
given merge tree yields bit-identical results — the same determinism policy
as our t-digest (SURVEY.md §7.4). Companion sketch per BASELINE.json
north_rule; absent in the reference. Merge = level-wise concat + compaction.
Cross-check oracles: exact numpy quantiles at test scale."""

from __future__ import annotations

import numpy as np

from . import wire

__all__ = ["KLL"]


def _capacity(k: int, level: int, top: int) -> int:
    # higher levels get larger buffers; c = 2/3 per the KLL paper
    return max(int(np.ceil(k * (2.0 / 3.0) ** (top - level))), 8)


@wire.Layout(b"KLL2", "<Iqq")  # k, n, parity; one array per level
class KLL:
    __slots__ = ("k", "n", "levels", "parity")

    def __init__(self, k: int = 200):
        self.k = int(k)
        self.n = 0
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.parity = 0  # deterministic compaction offset counter

    # ------------------------------------------------------------------ build

    def update(self, values: np.ndarray, assume_sorted: bool = False) -> "KLL":
        v = np.asarray(values).ravel()
        if v.dtype.kind not in "iub":
            v = v.astype(np.float64, copy=False)
            v = v[np.isfinite(v)]
        # integer inputs: sort/compact in the input dtype (half the memory
        # traffic of float64 for int32 tokens); only the compacted tails
        # are lifted to float64 at deposit time
        if v.shape[0] == 0:
            return self
        self.n += int(v.shape[0])
        if v.shape[0] > 4 * self.k:
            # large batch: sort ONCE and pre-compact the batch by itself —
            # every-other-element of a sorted array is still sorted, so
            # each halving is a slice, not a re-sort (the level-cascade
            # path would sort at every level). Leftovers of odd halvings
            # stay at their weight level, keeping total weight exact.
            buf = v if assume_sorted else np.sort(v)
            lvl = 0
            while buf.shape[0] > self.k:
                off = self.parity & 1
                self.parity += 1
                keep = buf[off::2]
                if buf.shape[0] % 2 == 1:
                    if off == 0:
                        keep, leftover = keep[:-1], buf[-1:]
                    else:
                        leftover = buf[:1]
                else:
                    leftover = None
                if leftover is not None:
                    while lvl >= len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[lvl] = np.concatenate(
                        [self.levels[lvl], leftover]
                    )
                buf = keep
                lvl += 1
            while lvl >= len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[lvl] = np.concatenate([self.levels[lvl], buf])
        else:
            self.levels[0] = np.concatenate([self.levels[0], v])
        self._compress()
        return self

    def _compress(self) -> None:
        i = 0
        while i < len(self.levels):
            top = len(self.levels) - 1
            cap = _capacity(self.k, i, top)
            buf = self.levels[i]
            if buf.shape[0] <= cap:
                i += 1
                continue
            buf = np.sort(buf, kind="stable")
            off = self.parity & 1
            self.parity += 1
            keep = buf[off::2]
            if buf.shape[0] % 2 == 1:
                # odd length: one item has no pair; retain it at this level
                # so total weight stays exact
                if off == 0:
                    keep, leftover = keep[:-1], buf[-1:]
                else:
                    leftover = buf[:1]
            else:
                leftover = np.empty(0, dtype=np.float64)
            if i + 1 >= len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[i + 1] = np.concatenate([self.levels[i + 1], keep])
            self.levels[i] = leftover
            i += 1

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("k mismatch")
        for lvl, buf in enumerate(other.levels):
            while lvl >= len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[lvl] = np.concatenate([self.levels[lvl], buf])
        self.n += other.n
        self.parity += other.parity
        self._compress()
        return self

    # ------------------------------------------------------------------ query

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for lvl, buf in enumerate(self.levels):
            if buf.shape[0]:
                vals.append(buf)
                wts.append(np.full(buf.shape[0], float(1 << lvl)))
        if not vals:
            return np.empty(0), np.empty(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, p):
        scalar = np.isscalar(p)
        ps = np.atleast_1d(np.asarray(p, dtype=np.float64))
        v, w = self._weighted_items()
        if v.shape[0] == 0:
            out = np.full(ps.shape, np.nan)
            return float(out[0]) if scalar else out
        cum = np.cumsum(w)
        h = np.clip(ps, 0.0, 1.0) * cum[-1]
        idx = np.clip(np.searchsorted(cum, h, side="left"), 0, v.shape[0] - 1)
        out = v[idx]
        return float(out[0]) if scalar else out

    def cdf(self, x):
        scalar = np.isscalar(x)
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        v, w = self._weighted_items()
        if v.shape[0] == 0:
            out = np.full(xs.shape, np.nan)
            return float(out[0]) if scalar else out
        cum = np.cumsum(w)
        idx = np.searchsorted(v, xs, side="right")
        out = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0.0) / cum[-1]
        return float(out[0]) if scalar else out

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        return self._wire.pack((self.k, self.n, self.parity), *self.levels)

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        (k, n, parity), levels = cls._wire.unpack(data)
        sk = cls(k=k)
        sk.n, sk.parity, sk.levels = n, parity, levels
        return sk
