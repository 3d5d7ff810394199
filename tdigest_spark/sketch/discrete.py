"""Discrete-mode digest and auto-switching Digest wrapper.

Re-derivation of the reference's ``delta === false`` discrete mode
(/root/reference/tdigest.js:24,183-184,246-247,277-280,305-309) and the
``Digest`` auto wrapper (tdigest.js:339-388):

- discrete mode is an **exact** value -> count map; distinct values never
  merge; percentiles use the Nearest Rank method (smallest value whose
  cumulative count >= p*n); p_rank(x) = (cumulative count of values <= x)/n;
- values need only be orderable — numeric and string variants supported
  (the reference spec ranks strings lexically, specs/discrete.spec.js:31-51);
- the auto wrapper starts discrete and switches to a continuous t-digest when
  size >= thresh (default 1000) and singleton_fraction > ratio (default 0.9)
  (tdigest.js:372-388). For distributed merges the check applies to the
  *merged* map (SURVEY.md §7.6): discrete partials merge exactly; if either
  side is already continuous, the discrete side converts (each value becomes
  a weighted centroid — exactly what the reference's mode-switch compress
  does, tdigest.js:384).
"""

from __future__ import annotations

import numpy as np

from . import wire
from .tdigest import TDigest

__all__ = ["DiscreteDigest", "AutoDigest"]


@wire.Layout(b"DDG2", "<?")  # is_string; counts, then values (or strings)
class DiscreteDigest:
    """Exact discrete digest: sorted unique values + counts."""

    __slots__ = ("values", "counts", "is_string")

    def __init__(self, is_string: bool = False):
        self.is_string = bool(is_string)
        self.values = np.empty(0, dtype=object if is_string else np.float64)
        self.counts = np.empty(0, dtype=np.float64)

    # ------------------------------------------------------------------ build

    @property
    def n(self) -> float:
        return float(self.counts.sum())

    @property
    def size(self) -> int:
        return int(self.values.shape[0])

    @property
    def n_unique(self) -> int:
        """Number of values seen exactly once (reference n_unique,
        tdigest.js:350,360-370)."""
        return int(np.count_nonzero(self.counts == 1.0))

    def push(self, values, counts=None) -> "DiscreteDigest":
        if self.is_string:
            v = np.asarray(values, dtype=object).ravel()
        else:
            # +0.0 canonicalizes -0.0 (equal keys must serialize identically)
            v = np.asarray(values, dtype=np.float64).ravel() + 0.0
        if v.shape[0] == 0:
            return self
        if counts is None:
            uv, uc = np.unique(v, return_counts=True)
            uc = uc.astype(np.float64)
        else:
            c = np.asarray(counts, dtype=np.float64).ravel()
            order = np.argsort(v, kind="stable")
            v, c = v[order], c[order]
            change = np.empty(v.shape[0], dtype=bool)
            change[0] = True
            change[1:] = v[1:] != v[:-1]
            idx = np.flatnonzero(change)
            uv, uc = v[idx], np.add.reduceat(c, idx)
        if self.is_string:
            uv = uv.astype(object)
        return self._absorb(uv, uc)

    def _absorb(self, uv: np.ndarray, uc: np.ndarray) -> "DiscreteDigest":
        if self.size == 0:
            self.values, self.counts = uv, uc
            return self
        v = np.concatenate([self.values, uv])
        c = np.concatenate([self.counts, uc])
        order = np.argsort(v, kind="stable")
        v, c = v[order], c[order]
        change = np.empty(v.shape[0], dtype=bool)
        change[0] = True
        change[1:] = v[1:] != v[:-1]
        idx = np.flatnonzero(change)
        self.values = v[idx]
        self.counts = np.add.reduceat(c, idx)
        return self

    def merge(self, other: "DiscreteDigest") -> "DiscreteDigest":
        if other.size:
            self._absorb(other.values, other.counts)
        return self

    # ----------------------------------------------------------------- query

    def quantile(self, p):
        """Nearest Rank: smallest value with cumulative count >= p*n
        (tdigest.js:277-280,305-309)."""
        scalar = np.isscalar(p)
        ps = np.atleast_1d(np.asarray(p, dtype=np.float64))
        if self.size == 0:
            out = np.full(ps.shape, None, dtype=object)
            return out[0] if scalar else out
        cum = np.cumsum(self.counts)
        h = np.clip(ps, 0.0, 1.0) * cum[-1]
        idx = np.searchsorted(cum, h, side="left")
        idx = np.clip(idx, 0, self.size - 1)
        out = self.values[idx]
        return out[0] if scalar else out

    def cdf(self, x):
        """p_rank: cumulative count of values <= x, over n
        (tdigest.js:246-247)."""
        scalar = np.isscalar(x) or isinstance(x, str)
        if self.is_string:
            xs = np.atleast_1d(np.asarray(x, dtype=object))
        else:
            xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if self.size == 0:
            out = np.full(xs.shape, np.nan)
            return float(out[0]) if scalar else out
        cum = np.cumsum(self.counts)
        idx = np.searchsorted(self.values, xs, side="right")
        out = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0.0) / cum[-1]
        return float(out[0]) if scalar else out

    def items(self) -> list[tuple[object, float]]:
        return list(zip(self.values.tolist(), self.counts.tolist()))

    def to_tdigest(self, delta: float = 0.01) -> TDigest:
        """Convert each (value, count) to a weighted centroid — the
        reference's check_continuous switch (tdigest.js:384)."""
        if self.is_string:
            raise TypeError("string discrete digest cannot become continuous")
        td = TDigest(delta=delta)
        if self.size:
            td.push(self.values.astype(np.float64), self.counts)
            td.compress()  # reference compresses at the mode switch
        return td

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        vals = wire.strings(self.values) if self.is_string else (self.values,)
        return self._wire.pack((self.is_string,), self.counts, *vals)

    @classmethod
    def from_bytes(cls, data: bytes) -> "DiscreteDigest":
        (is_string,), (counts, *vals) = cls._wire.unpack(data)
        dd = cls(is_string=is_string)
        dd.counts = counts
        dd.values = wire.unstrings(*vals) if is_string else vals[0]
        return dd


@wire.Layout(b"ADG2", "<4sddI")  # mode, delta, ratio, thresh; inner state
class AutoDigest:
    """Reference ``Digest`` wrapper: exact discrete until the sample looks
    continuous, then t-digest (tdigest.js:339-388).

    mode: 'auto' | 'disc' | 'cont'. In auto mode the switch happens when
    size >= thresh and n_unique/size > ratio, evaluated after each push and
    after each merge (on the merged exact map, SURVEY.md §7.6).
    """

    __slots__ = ("mode", "delta", "ratio", "thresh", "inner", "switched")

    def __init__(
        self,
        mode: str = "auto",
        delta: float = 0.01,
        ratio: float = 0.9,
        thresh: int = 1000,
        is_string: bool = False,
    ):
        if mode not in ("auto", "disc", "cont"):
            raise ValueError(f"bad mode {mode!r}")
        if is_string and mode == "cont":
            raise ValueError("string values have no continuous mode")
        self.mode = mode
        self.delta = float(delta)
        self.ratio = float(ratio)
        self.thresh = int(thresh)
        self.switched = False
        if mode == "cont":
            self.inner: TDigest | DiscreteDigest = TDigest(delta=delta)
            self.switched = True
        else:
            # string data stays an exact lexically-ranked map (reference
            # Digest accepts strings in discrete mode,
            # specs/discrete.spec.js:31-51; there is nothing continuous to
            # switch to, so auto never converts a string digest)
            self.inner = DiscreteDigest(is_string=is_string)

    @property
    def is_continuous(self) -> bool:
        return isinstance(self.inner, TDigest)

    @property
    def n(self) -> float:
        return self.inner.n

    def push(self, values, counts=None) -> "AutoDigest":
        self.inner.push(values, counts)
        self._check_continuous()
        return self

    def _check_continuous(self) -> bool:
        if self.mode != "auto" or self.is_continuous:
            return False
        if getattr(self.inner, "is_string", False):
            return False
        dd = self.inner
        if dd.size >= self.thresh and dd.size and dd.n_unique / dd.size > self.ratio:
            self.inner = dd.to_tdigest(self.delta)
            self.switched = True
            return True
        return False

    def merge(self, other: "AutoDigest") -> "AutoDigest":
        if self.is_continuous and other.is_continuous:
            self.inner.merge(other.inner)
        elif self.is_continuous:
            self.inner.merge(other.inner.to_tdigest(self.delta))
        elif other.is_continuous:
            if self.mode == "disc":
                # forced-discrete promises exact nearest-rank answers; a
                # silent conversion to an approximate t-digest would break
                # that contract — mixed-mode partials are a config error
                raise ValueError(
                    "cannot merge a continuous digest into mode='disc'"
                )
            mine = self.inner.to_tdigest(self.delta)
            self.inner = mine.merge(other.inner)
            self.switched = True
        else:
            self.inner.merge(other.inner)
            self._check_continuous()
        return self

    def quantile(self, p):
        return self.inner.quantile(p)

    def cdf(self, x):
        return self.inner.cdf(x)

    def to_bytes(self) -> bytes:
        params = (self.mode.encode(), self.delta, self.ratio, self.thresh)
        inner = np.frombuffer(self.inner.to_bytes(), dtype=np.uint8)
        return self._wire.pack(params, inner)

    @classmethod
    def from_bytes(cls, data: bytes) -> "AutoDigest":
        (mode, delta, ratio, thresh), (inner,) = cls._wire.unpack(data)
        ad = cls(mode=mode.decode("latin-1"), delta=delta, ratio=ratio, thresh=thresh)
        ad.inner = wire.decode(inner.tobytes())
        if not isinstance(ad.inner, (TDigest, DiscreteDigest)):
            raise ValueError(f"AutoDigest cannot hold a {type(ad.inner).__name__}")
        ad.switched = ad.is_continuous
        return ad
