"""Per-operation correctness checks. Each returns a list of failure
messages; an empty list means the operation's output is correct."""

from __future__ import annotations

import math

import numpy as np

from inputs import SeqExact

CDF_BOUND = 0.01  # absolute CDF error of a delta=0.01 t-digest
SHAPE_BOUND = 0.04  # err / (q(1-q)) < 4 * delta on q in [0.01, 0.99]


def _mid_rank_cdf(counts: np.ndarray) -> np.ndarray:
    c = counts.astype(np.float64)
    return (np.cumsum(c) - c / 2.0) / c.sum()


def digest_errors(d, values: np.ndarray, counts: np.ndarray) -> tuple[float, float]:
    """(max CDF error, max shape error) of a t-digest against the exact
    distribution, with bench.py's mid-rank convention and body grid."""
    exact = _mid_rank_cdf(counts)
    err = np.abs(d.cdf(values.astype(np.float64)) - exact)
    body = (exact >= 0.01) & (exact <= 0.99)
    shape = err[body] / (exact[body] * (1.0 - exact[body]))
    return float(err.max()), float(shape.max()) if body.any() else 0.0


def six_sketch_quality(sks: dict, ex: SeqExact) -> dict[str, float]:
    """Observed error of each of the six sketches, and its a-priori bound."""
    q = {}
    q["td_tokens.cdf_err"], q["td_tokens.shape_err"] = digest_errors(
        sks["td_tokens"], ex.tok_values, ex.tok_counts
    )
    q["td_ntok.cdf_err"], q["td_ntok.shape_err"] = digest_errors(
        sks["td_ntok"], ex.ntok_values, ex.ntok_counts
    )
    hll = sks["hll_tokens"]
    distinct = ex.tok_values.shape[0]
    q["hll_tokens.rel_err"] = abs(hll.estimate() - distinct) / distinct
    q["hll_tokens.bound"] = 1.04 / math.sqrt(hll.m)
    cms = sks["cms_tokens"]
    est = cms.estimate_ints(ex.tok_values)
    q["cms_tokens.min_over"] = float((est - ex.tok_counts).min())
    q["cms_tokens.max_over_frac"] = float((est - ex.tok_counts).max()) / ex.tokens
    q["cms_tokens.bound"] = math.e / cms.width  # epsilon; over-count <= eps*N
    kll = sks["kll_tokens"]
    right_cdf = np.cumsum(ex.tok_counts) / ex.tokens
    q["kll_tokens.rank_err"] = float(
        np.abs(kll.cdf(ex.tok_values.astype(np.float64)) - right_cdf).max()
    )
    # normalized rank error of KLL at the 99% level is about 3.3/k
    q["kll_tokens.bound"] = 3.3 / kll.k
    bloom = sks["bloom_tokens"]
    absent = np.arange(1 << 24, (1 << 24) + 20000, dtype=np.int64)
    q["bloom_tokens.fpr"] = float(bloom.might_contain_ints(absent).mean())
    q["bloom_tokens.bound"] = 0.01
    return q


def check_six_sketches(sks: dict, ex: SeqExact, probe: np.ndarray) -> list[str]:
    """seq_build / ckpt_small_files output rules; ``probe`` is a
    seed-chosen sample of present token ids for the Bloom check."""
    bad = []
    if int(sks["td_tokens"].n) != ex.tokens:
        bad.append(f"td_tokens n {sks['td_tokens'].n} != {ex.tokens}")
    if int(sks["td_ntok"].n) != ex.rows:
        bad.append(f"td_ntok n {sks['td_ntok'].n} != {ex.rows}")
    q = six_sketch_quality(sks, ex)
    for d in ("td_tokens", "td_ntok"):
        if not q[f"{d}.cdf_err"] < CDF_BOUND:
            bad.append(f"{d} cdf err {q[f'{d}.cdf_err']:.4g}")
        if not q[f"{d}.shape_err"] < SHAPE_BOUND:
            bad.append(f"{d} shape err {q[f'{d}.shape_err']:.4g}")
    if not q["hll_tokens.rel_err"] <= 3 * q["hll_tokens.bound"]:
        bad.append(f"hll rel err {q['hll_tokens.rel_err']:.4g}")
    if not sks["bloom_tokens"].might_contain_ints(probe).all():
        bad.append("bloom false negative")
    if q["cms_tokens.min_over"] < 0:
        bad.append("cms under-count")
    return bad


def check_grouped(res: dict, ex: SeqExact) -> list[str]:
    got = {k: int(v.n) for k, v in res.items()}
    return [] if got == ex.per_source_tokens else [f"per-source n {got} != {ex.per_source_tokens}"]


def check_same_states(got: dict[str, bytes], want: dict[str, bytes], what: str) -> list[str]:
    return [f"{what}: {n} state differs" for n in want if got.get(n) != want[n]]


def check_rows(cols: list[str], rows: list[tuple], want: tuple[list[str], list[tuple]]) -> list[str]:
    wcols, wrows = want
    if cols != wcols:
        return [f"columns {cols} != {wcols}"]
    if rows != wrows:
        return [f"{sum(a != b for a, b in zip(rows, wrows)) + abs(len(rows) - len(wrows))} rows differ"]
    return []
