"""Single-threaded driver-side replay of the scan kernel, layer by layer.

The distributed kernel (``operators.scan.scan_partials_rdd``) runs inside
Spark tasks and reports only a per-split wall time, so its inside cannot be
spanned from the driver. The replay runs the same public steps on a sample
of splits, in the task's order, with a clock around each:

    decode    pyarrow ``ParquetFile.read_row_groups``
    flatten   list column -> flat numpy values (the kernel's extractor)
    prep      ``operators.aggregate.sorted_and_agg`` (one per int column)
    ingest    ``SketchSpec.update_agg`` / ``update_sorted`` / ``update``
    serialize ``to_bytes``

``parity_ok`` compares the replayed states with a one-partition
``scan_partials_rdd`` build of the same splits: the replay's layer table is
only trusted while the two agree byte for byte.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np


@dataclass
class ReplayResult:
    decode_s: float = 0.0
    flatten_s: float = 0.0
    prep_s: float = 0.0
    serialize_s: float = 0.0
    ingest_s: dict[str, float] = field(default_factory=dict)
    values: int = 0  # values flattened, summed over columns
    distinct: int = 0  # distinct values per split and column, summed
    col_values: dict[str, int] = field(default_factory=dict)
    states: dict[str, bytes] = field(default_factory=dict)


def replay_splits(splits, sketches: dict) -> ReplayResult:
    """Ingest ``splits`` into one sketch set, as one task would."""
    import pyarrow.parquet as pq

    from tdigest_spark.operators.aggregate import sorted_and_agg
    from tdigest_spark.operators.scan import _column_values_arrow

    names = list(sketches)
    specs = {n: spec for n, (_, spec) in sketches.items()}
    col_of = {n: c for n, (c, _) in sketches.items()}
    cols = sorted(set(col_of.values()))
    r = ReplayResult(ingest_s={n: 0.0 for n in names}, col_values={c: 0 for c in cols})
    sks = {n: specs[n].make() for n in names}
    clock = time.perf_counter
    for sp in splits:
        t = clock()
        tbl = pq.ParquetFile(sp.path).read_row_groups(
            list(sp.row_groups), columns=cols, use_threads=False
        )
        r.decode_s += clock() - t
        t = clock()
        vals = {c: _column_values_arrow(tbl.column(c)) for c in cols}
        r.flatten_s += clock() - t
        prep = {}
        for c, v in vals.items():
            r.values += v.shape[0]
            r.col_values[c] += v.shape[0]
            if v.dtype.kind in "iub" and v.shape[0]:
                wa = any(specs[n].update_agg is not None for n in names if col_of[n] == c)
                ws = any(specs[n].update_sorted is not None for n in names if col_of[n] == c)
                t = clock()
                prep[c] = sorted_and_agg(v, wa, ws)
                r.prep_s += clock() - t
                agg = prep[c][1]
                r.distinct += agg[0].shape[0] if agg is not None else np.unique(v).shape[0]
        for n in names:
            c = col_of[n]
            v = vals[c]
            if not v.shape[0]:
                continue
            sv, agg = prep.get(c, (None, None))
            t = clock()
            if specs[n].update_agg is not None and agg is not None:
                specs[n].update_agg(sks[n], *agg)
            elif specs[n].update_sorted is not None and sv is not None:
                specs[n].update_sorted(sks[n], sv)
            else:
                specs[n].update(sks[n], v)
            r.ingest_s[n] += clock() - t
    t = clock()
    r.states = {n: sks[n].to_bytes() for n in names}
    r.serialize_s = clock() - t
    return r


def spark_states(spark, files: list[str], sketches: dict, rows_per_split: int) -> dict[str, bytes]:
    """States of a one-partition ``scan_partials_rdd`` build of ``files``."""
    from tdigest_spark.operators.scan import scan_partials_rdd

    rows = scan_partials_rdd(
        spark, files, sketches, rows_per_split, partitions=1
    ).collect()
    if len(rows) != 1:
        raise RuntimeError(f"expected one partition row, got {len(rows)}")
    return {n: rows[0][f"state_{n}"] for n in sketches}
