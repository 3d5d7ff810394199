"""Deterministic mergeable t-digest (continuous mode).

Semantics re-derived from the reference library welch/tdigest
(/root/reference/tdigest.js) and Dunning's t-digest paper, re-expressed as a
batch/vectorized numpy kernel suitable for Spark two-phase aggregation:

- centroid state = two parallel float64 arrays ``(means, weights)`` sorted by
  mean with **unique** means (exact-duplicate values always collapse into one
  centroid, matching the reference's unconditional exact-match absorption,
  tdigest.js:174-178);
- per-centroid mass bound ``w <= max(1, 4*N*delta*q*(1-q))`` — the reference's
  capacity rule (tdigest.js:190-191), enforced by a deterministic left-to-right
  merging pass (Dunning's MergingDigest style) instead of the reference's
  randomized re-insertion compress (tdigest.js:312-337), so a given merge tree
  always yields bit-identical results;
- the first and last centroids are never merged, so ``means[0] == min`` and
  ``means[-1] == max`` (the reference's boundary rule, tdigest.js:179-182);
- compression is only triggered when the centroid count exceeds
  ``K / delta`` (reference's K-trigger, tdigest.js:199-202), so small digests
  are *exact* multiset unions and merge is exactly associative/commutative on
  them;
- query semantics (quantile / cdf interpolation, half-weight boundary rule,
  out-of-range clamping) match tdigest.js:216-310 — see the ported spec
  literals in tests/test_tdigest_core.py.

No code is copied from the reference; this is a from-scratch vectorized
implementation of the published algorithm.
"""

from __future__ import annotations

import numpy as np

from . import wire

__all__ = ["TDigest"]


def _capacity_merge(
    means: np.ndarray, weights: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic fully-vectorized scale-function merging compression.

    Inputs must be sorted by mean with unique means. Each centroid is placed
    at its midpoint rank q_i = (cum_i - w_i/2)/N and bucketed by the scale
    function k(q) = ln(q/(1-q)) / (4*delta); adjacent centroids sharing a
    k-unit merge into their weighted mean. Because k'(q) = 1/(4*delta*q(1-q)),
    one k-unit spans a q-mass of ~4*N*delta*q*(1-q) — exactly the reference's
    per-centroid capacity rule (tdigest.js:190-191) expressed as a scale
    function (the k2 family in Dunning's terms). First and last centroids are
    pinned so min/max stay exact (tdigest.js:179-182). No Python loop: cumsum
    + log + reduceat, so compression is O(C) vectorized.
    """
    c = means.shape[0]
    if c <= 3:
        return means, weights
    total = float(weights.sum())
    cum = np.cumsum(weights)
    q = (cum - 0.5 * weights) / total
    k = np.log(q / (1.0 - q)) / (4.0 * delta)
    bucket = np.floor(k)
    starts = np.empty(c, dtype=bool)
    starts[0] = True
    np.not_equal(bucket[1:], bucket[:-1], out=starts[1:])
    # pin the extreme centroids as their own clusters
    starts[1] = True
    starts[-1] = True
    idx = np.flatnonzero(starts)
    new_w = np.add.reduceat(weights, idx)
    new_means = np.add.reduceat(means * weights, idx) / new_w
    # singleton clusters keep their exact mean (no fp drift through m*w/w)
    sizes = np.diff(np.append(idx, c))
    single = sizes == 1
    if single.any():
        new_means[single] = means[idx[single]]
    return new_means, new_w


def _coalesce_sorted(
    means: np.ndarray, weights: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sum weights of equal adjacent means (input sorted by mean)."""
    if means.shape[0] <= 1:
        return means, weights
    change = np.empty(means.shape[0], dtype=bool)
    change[0] = True
    np.not_equal(means[1:], means[:-1], out=change[1:])
    if change.all():
        return means, weights
    idx = np.flatnonzero(change)
    return means[idx], np.add.reduceat(weights, idx)


@wire.Layout(b"TDG3", "<ddddd")  # delta, K, n, min, max; means, weights
class TDigest:
    """Continuous-mode t-digest over float64 values.

    delta is the welch-style compression parameter (reference default 0.01;
    paper compression factor = 1/delta, i.e. delta=0.01 ≡ "delta=100" in
    Dunning's parameterization). K controls the lazy-compression trigger
    (compress when centroid count > K/delta), matching tdigest.js:199-202.
    """

    __slots__ = ("means", "weights", "vmin", "vmax", "n", "delta", "K")

    def __init__(self, delta: float = 0.01, K: float = 25.0, CX: float = 1.1):
        # CX is accepted for constructor parity with the reference
        # (TDigest(delta, K, CX), tdigest.js:8-31) but has no effect: it
        # gates the reference's lazy cumulate staleness (tdigest.js:102-121),
        # which the batch model supersedes (SURVEY.md §4 row 1)
        self.delta = float(delta)
        self.K = float(K)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.vmin = np.inf
        self.vmax = -np.inf
        self.n = 0.0

    # ------------------------------------------------------------------ build

    @property
    def size(self) -> int:
        return int(self.means.shape[0])

    @property
    def _buffer_limit(self) -> float:
        return self.K / self.delta if self.K > 0 else np.inf

    def push(self, values, weights=None) -> "TDigest":
        """Batch ingest: sort + coalesce duplicates + merge into state."""
        raw = np.asarray(values).ravel()
        if raw.shape[0] == 0:
            return self
        if weights is None and raw.dtype.kind in ("i", "u", "b"):
            # integer fast path (token data): radix-friendly unique+counts,
            # then only the distinct values are lifted to float64
            uv, uc = np.unique(raw, return_counts=True)
            return self._absorb(
                uv.astype(np.float64), uc.astype(np.float64)
            )
        v = raw.astype(np.float64, copy=False).ravel()
        # canonicalize -0.0 -> +0.0: equal means must serialize identically
        # or merge order would leak into state bytes (commutativity)
        v = v + 0.0
        finite = np.isfinite(v)
        if weights is None:
            if not finite.all():
                v = v[finite]
                if v.shape[0] == 0:
                    return self
            sv = np.sort(v)
            sw_means, sw_weights = _coalesce_sorted(
                sv, np.ones(sv.shape[0], dtype=np.float64)
            )
        else:
            w = np.asarray(weights, dtype=np.float64).ravel()
            if w.shape[0] == 1 and v.shape[0] > 1:
                w = np.full(v.shape[0], w[0])
            keep = finite & (w > 0)
            if not keep.all():
                v, w = v[keep], w[keep]
            if v.shape[0] == 0:
                return self
            order = np.argsort(v, kind="stable")
            sw_means, sw_weights = _coalesce_sorted(v[order], w[order])
        return self._absorb(sw_means, sw_weights)

    def _absorb(self, smeans: np.ndarray, sweights: np.ndarray) -> "TDigest":
        """Merge a sorted-unique (means, weights) block into the state."""
        if smeans.shape[0] > 2 * self._buffer_limit:
            # pre-compress a huge incoming block so the concat+argsort below
            # runs on O(1/delta) centroids, not the raw batch
            self.n += float(sweights.sum())
            self.vmin = min(self.vmin, float(smeans[0]))
            self.vmax = max(self.vmax, float(smeans[-1]))
            smeans, sweights = _capacity_merge(smeans, sweights, self.delta)
            if self.size == 0:
                self.means, self.weights = smeans, sweights
                return self
            means = np.concatenate([self.means, smeans])
            weights = np.concatenate([self.weights, sweights])
            order = np.argsort(means, kind="stable")
            means, weights = _coalesce_sorted(means[order], weights[order])
            if means.shape[0] > self._buffer_limit:
                means, weights = _capacity_merge(means, weights, self.delta)
            self.means, self.weights = means, weights
            return self
        if self.size == 0:
            means, weights = smeans, sweights
        else:
            means = np.concatenate([self.means, smeans])
            weights = np.concatenate([self.weights, sweights])
            order = np.argsort(means, kind="stable")
            means, weights = _coalesce_sorted(means[order], weights[order])
        self.n += float(sweights.sum())
        self.vmin = min(self.vmin, float(smeans[0]))
        self.vmax = max(self.vmax, float(smeans[-1]))
        if means.shape[0] > self._buffer_limit:
            means, weights = _capacity_merge(means, weights, self.delta)
        self.means, self.weights = means, weights
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        """Digest union (reference push_centroid re-ingest, tdigest.js:93-100).

        Associative and commutative exactly while below the compression
        trigger; deterministic (sort-based) always.
        """
        if other.size == 0:
            return self
        if self.size == 0:
            self.means = other.means.copy()
            self.weights = other.weights.copy()
            self.vmin, self.vmax, self.n = other.vmin, other.vmax, other.n
            return self
        return self._absorb(other.means, other.weights)

    def compress(self) -> "TDigest":
        """Force a deterministic compression pass now."""
        if self.size > 2:
            self.means, self.weights = _capacity_merge(
                self.means, self.weights, self.delta
            )
        return self

    # ----------------------------------------------------------------- query

    def _mean_cumn(self) -> np.ndarray:
        # cumulative weight up to each centroid plus half its own weight
        # (reference mean_cumn, tdigest.js:117)
        return np.cumsum(self.weights) - 0.5 * self.weights

    def quantile(self, p):
        """Smallest x with >= p of the mass <= x; reference percentile
        semantics (tdigest.js:272-310): p clamps to [0,1]; interpolate means
        by mean_cumn; quantile(0)=min, quantile(1)=max."""
        scalar = np.isscalar(p)
        ps = np.atleast_1d(np.asarray(p, dtype=np.float64))
        if self.size == 0:
            out = np.full(ps.shape, np.nan)
            return float(out[0]) if scalar else out
        h = np.clip(ps, 0.0, 1.0) * self.n
        mc = self._mean_cumn()
        # np.interp clamps h outside [mc[0], mc[-1]] to the extreme means,
        # which equal vmin/vmax because extreme centroids are never merged.
        out = np.interp(h, mc, self.means)
        out[ps <= 0.0] = self.vmin
        out[ps >= 1.0] = self.vmax
        return float(out[0]) if scalar else out

    def cdf(self, x):
        """Percentile rank in [0,1]; reference p_rank semantics
        (tdigest.js:216-255): out-of-range clamps to 0/1, interpolation of
        mean_cumns, boundary point reports half its centroid weight inward."""
        scalar = np.isscalar(x)
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if self.size == 0:
            out = np.full(xs.shape, np.nan)
            return float(out[0]) if scalar else out
        mc = self._mean_cumn()
        out = np.interp(xs, self.means, mc) / self.n
        out[xs < self.vmin] = 0.0
        out[xs > self.vmax] = 1.0
        # single-centroid digest: any in-range x sits at the centroid
        if self.size == 1:
            inside = (xs >= self.vmin) & (xs <= self.vmax)
            out[inside] = 0.5
        return float(out[0]) if scalar else out

    def trimmed_mean(self, lo: float = 0.0, hi: float = 1.0) -> float:
        """Mean of the values between quantiles lo and hi, pro-rating the
        centroid mass that straddles the cut boundaries (absent in the
        reference; required by the north_star; same semantics as Dunning's
        reference Java implementation)."""
        if self.size == 0:
            return float("nan")
        h_lo, h_hi = lo * self.n, hi * self.n
        if h_hi <= h_lo:
            return float("nan")
        cum_hi = np.cumsum(self.weights)
        cum_lo = cum_hi - self.weights
        overlap = np.minimum(cum_hi, h_hi) - np.maximum(cum_lo, h_lo)
        cover = np.clip(overlap, 0.0, None)
        tw = cover.sum()
        if tw <= 0:
            return float("nan")
        return float(np.dot(self.means, cover) / tw)

    def winsorized_mean(self, lo: float = 0.0, hi: float = 1.0) -> float:
        """Mean after CLIPPING the tails at quantile(lo)/quantile(hi) —
        the robust-mean variant that keeps n constant (trimming DROPS
        the tails, winsorizing CLAMPS them to the cut values; absent in
        the reference, natural companion to :meth:`trimmed_mean`):
        lo·n points contribute quantile(lo) each, hi·n..n contribute
        quantile(hi), the body contributes its pro-rated centroid mass
        exactly as in trimmed_mean."""
        if self.size == 0:
            return float("nan")
        h_lo, h_hi = lo * self.n, hi * self.n
        if h_hi < h_lo:
            return float("nan")
        q_lo = float(self.quantile(lo))
        q_hi = float(self.quantile(hi))
        cum_hi = np.cumsum(self.weights)
        cum_lo = cum_hi - self.weights
        overlap = np.clip(
            np.minimum(cum_hi, h_hi) - np.maximum(cum_lo, h_lo), 0.0, None
        )
        num = float(np.dot(self.means, overlap))
        return (h_lo * q_lo + num + (self.n - h_hi) * q_hi) / self.n

    def summary(self) -> str:
        """Text summary: approx n points, centroid count, min/Q1/Q2/Q3/max
        (reference summary(), tdigest.js:59-68)."""
        qs = self.quantile([0.0, 0.25, 0.5, 0.75, 1.0])
        head = f"approx. {int(self.n)} samples using {self.size} centroids"
        return head + "\nmin = {}, Q1 = {}, Q2 = {}, Q3 = {}, max = {}".format(
            *[float(q) for q in qs]
        )

    def centroids(self) -> list[tuple[float, float]]:
        """Sorted [(mean, n)] export (reference toArray, tdigest.js:46-57)."""
        return list(zip(self.means.tolist(), self.weights.tolist()))

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        ends = (self.vmin, self.vmax) if self.size else (np.nan, np.nan)
        params = (self.delta, self.K, self.n, *ends)
        return self._wire.pack(params, self.means, self.weights)

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        (delta, K, n, vmin, vmax), (means, weights) = cls._wire.unpack(data)
        td = cls(delta=delta, K=K)
        td.means, td.weights, td.n = means, weights, n
        td.vmin, td.vmax = (vmin, vmax) if means.size else (np.inf, -np.inf)
        return td

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"TDigest(delta={self.delta}, n={self.n}, size={self.size}, "
            f"min={self.vmin}, max={self.vmax})"
        )
