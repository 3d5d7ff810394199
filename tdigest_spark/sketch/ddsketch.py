"""DDSketch (Masson, Rim, Lee — VLDB 2019): relative-error quantile sketch
over log-spaced buckets. Companion sketch per BASELINE.json north_rule;
absent in the reference (welch/tdigest is rank-error, this is value-error:
``|est/true - 1| <= alpha`` for any quantile).

Unlike t-digest/KLL, the state is a pure counting structure — bucket
``i = ceil(ln(x)/ln(gamma))`` with ``gamma = (1+alpha)/(1-alpha)`` — so
merge is exact integer addition: bit-identical across ANY partition
layout / merge order (same class of determinism as HLL/CMS/Bloom, see
tests/test_scan_path.py). That also makes every quantile answer exactly
reproducible in ANSI SQL (group by the bucket expression, running sum,
pick first bucket past the rank), which is how the driver oracle checks
it (``__spark_entry__.ddsketch_price_quantiles``).

This is the unbounded-store variant: bucket count grows with the DYNAMIC
RANGE of the data (log_gamma(max/min) buckets), not with n — ~1.2k buckets
span 12 decades at alpha=0.01, fine for 10^12-row columns; a collapsing
store would trade the relative-error guarantee on the low tail.
"""

from __future__ import annotations

import math

import numpy as np

from . import wire

__all__ = ["DDSketch"]


# alpha, n, zero_count, pos_offset, neg_offset; pos store, neg store
@wire.Layout(b"DDS2", "<dqqqq")
class DDSketch:
    __slots__ = ("alpha", "gamma", "log_gamma", "n", "zero_count",
                 "pos_offset", "pos", "neg_offset", "neg")

    def __init__(self, alpha: float = 0.01):
        if not (0.0 < alpha < 1.0):
            raise ValueError("alpha must be in (0, 1)")
        self.alpha = float(alpha)
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self.log_gamma = math.log(self.gamma)
        self.n = 0
        self.zero_count = 0
        # contiguous int64 count stores: pos[i] counts bucket pos_offset+i
        self.pos_offset = 0
        self.pos = np.empty(0, dtype=np.int64)
        self.neg_offset = 0  # mirrored store over -x for x < 0
        self.neg = np.empty(0, dtype=np.int64)

    # ------------------------------------------------------------------ build

    def _bucket_index(self, v: np.ndarray) -> np.ndarray:
        # ceil(ln(v)/ln(gamma)) — the canonical DDSketch mapping; numpy and
        # DuckDB both do IEEE-double ln/div/ceil, so the SQL oracle computes
        # the SAME index (test_ddsketch asserts a wide margin to the bucket
        # boundary on the benchmark columns, so a 1-ulp libm difference
        # cannot flip the ceiling)
        return np.ceil(np.log(v) / self.log_gamma).astype(np.int64)

    def _deposit(self, store_attr: str, off_attr: str,
                 idx: np.ndarray, counts: np.ndarray) -> None:
        if idx.shape[0] == 0:  # e.g. merging a store whose counts are all 0
            return
        lo = int(idx.min())
        hi = int(idx.max())
        store = getattr(self, store_attr)
        off = getattr(self, off_attr)
        if store.shape[0] == 0:
            off = lo
            store = np.zeros(hi - lo + 1, dtype=np.int64)
        elif lo < off or hi >= off + store.shape[0]:
            new_off = min(lo, off)
            new_hi = max(hi, off + store.shape[0] - 1)
            grown = np.zeros(new_hi - new_off + 1, dtype=np.int64)
            grown[off - new_off: off - new_off + store.shape[0]] = store
            store, off = grown, new_off
        np.add.at(store, idx - off, counts)
        setattr(self, store_attr, store)
        setattr(self, off_attr, off)

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> "DDSketch":
        v = np.asarray(values).ravel()
        if v.dtype.kind not in "iu":
            v = v.astype(np.float64, copy=False)
            keep = np.isfinite(v)
            if not keep.all():
                v = v[keep]
                if counts is not None:
                    counts = np.asarray(counts).ravel()[keep]
        c = (np.ones(v.shape[0], dtype=np.int64) if counts is None
             else np.asarray(counts, dtype=np.int64).ravel())
        if v.shape[0] == 0:
            return self
        self.n += int(c.sum())
        pos = v > 0
        neg = v < 0
        if pos.any():
            vf = v[pos].astype(np.float64, copy=False)
            self._deposit("pos", "pos_offset", self._bucket_index(vf), c[pos])
        if neg.any():
            vf = (-v[neg]).astype(np.float64, copy=False)
            self._deposit("neg", "neg_offset", self._bucket_index(vf), c[neg])
        nz = v.shape[0] - int(pos.sum()) - int(neg.sum())
        if nz:
            self.zero_count += int(c[~(pos | neg)].sum())
        return self

    def merge(self, other: "DDSketch") -> "DDSketch":
        if other.alpha != self.alpha:
            raise ValueError("alpha mismatch")
        self.n += other.n
        self.zero_count += other.zero_count
        for store_attr, off_attr in (("pos", "pos_offset"), ("neg", "neg_offset")):
            ostore = getattr(other, store_attr)
            if ostore.shape[0]:
                ooff = getattr(other, off_attr)
                idx = np.arange(ooff, ooff + ostore.shape[0], dtype=np.int64)
                nzm = ostore != 0
                self._deposit(store_attr, off_attr, idx[nzm], ostore[nzm])
        return self

    # ------------------------------------------------------------------ query

    @property
    def size(self) -> int:
        """Number of non-empty buckets (state footprint metric)."""
        return int((self.pos != 0).sum() + (self.neg != 0).sum()
                   + (1 if self.zero_count else 0))

    def _ordered_buckets(self) -> tuple[np.ndarray, np.ndarray]:
        """(estimates, counts) in ascending value order: negatives (largest
        mirrored index first = most negative), zeros, positives."""
        ests, cnts = [], []
        if self.neg.shape[0]:
            nzm = np.flatnonzero(self.neg)
            idx = (self.neg_offset + nzm)[::-1]
            ests.append(-2.0 * self.gamma ** idx.astype(np.float64)
                        / (self.gamma + 1.0))
            cnts.append(self.neg[nzm][::-1])
        if self.zero_count:
            ests.append(np.array([0.0]))
            cnts.append(np.array([self.zero_count], dtype=np.int64))
        if self.pos.shape[0]:
            nzm = np.flatnonzero(self.pos)
            idx = self.pos_offset + nzm
            ests.append(2.0 * self.gamma ** idx.astype(np.float64)
                        / (self.gamma + 1.0))
            cnts.append(self.pos[nzm])
        if not ests:
            return np.empty(0), np.empty(0, dtype=np.int64)
        return np.concatenate(ests), np.concatenate(cnts)

    def quantile(self, p):
        """Value estimate at quantile p: rank = floor(p*(n-1)); the first
        bucket (ascending) whose running count exceeds the rank. Matches the
        SQL oracle formulation exactly (MIN(idx) WHERE cum > rank)."""
        scalar = np.isscalar(p)
        ps = np.atleast_1d(np.asarray(p, dtype=np.float64))
        ests, cnts = self._ordered_buckets()
        if ests.shape[0] == 0:
            out = np.full(ps.shape, np.nan)
            return float(out[0]) if scalar else out
        cum = np.cumsum(cnts)
        ranks = np.floor(np.clip(ps, 0.0, 1.0) * (self.n - 1))
        sel = np.searchsorted(cum, ranks, side="right")
        out = ests[np.clip(sel, 0, ests.shape[0] - 1)]
        return float(out[0]) if scalar else out

    def cdf(self, x):
        """Fraction of mass in buckets whose estimate is <= x."""
        scalar = np.isscalar(x)
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        ests, cnts = self._ordered_buckets()
        if ests.shape[0] == 0:
            out = np.full(xs.shape, np.nan)
            return float(out[0]) if scalar else out
        cum = np.cumsum(cnts)
        idx = np.searchsorted(ests, xs, side="right")
        out = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0) / float(self.n)
        return float(out[0]) if scalar else out

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        params = (self.alpha, self.n, self.zero_count, self.pos_offset, self.neg_offset)
        return self._wire.pack(params, self.pos, self.neg)

    @classmethod
    def from_bytes(cls, data: bytes) -> "DDSketch":
        (alpha, n, zc, poff, noff), (pos, neg) = cls._wire.unpack(data)
        sk = cls(alpha=alpha)
        sk.n, sk.zero_count = n, zc
        sk.pos_offset, sk.pos, sk.neg_offset, sk.neg = poff, pos, noff, neg
        return sk
