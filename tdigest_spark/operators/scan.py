"""Scan-in-worker sketch build: the parquet fast path.

Spark's JVM parquet reader decodes ``list<int32>`` token columns row-by-row
and re-serializes them over the Arrow IPC boundary to Python; measured here
that path moves ~4-12M tokens/s/core, while a pyarrow read of the very same
files inside the Python worker moves >100M tokens/s/core. Since a sketch
build is a full-scan aggregation whose partial phase needs only (a) column
pruning and (b) optional row-group predicate pushdown — both of which
pyarrow's parquet reader does natively — we let Spark schedule *splits*
(file + row-group ranges) and have each task read its split directly.

This is the same layout Petastorm/Daft-style Python-native readers use, and
it is exactly how the build scales on a real cluster: splits are generated
from parquet metadata (driver-side, O(#row-groups)), distributed via
``sc.parallelize``, and each executor core streams its row groups through
the vectorized sketch kernels. No JVM row materialization, no shuffle of raw
data — the only traffic is #splits x O(16 KB) serialized sketch states plus
per-split lineage metrics (per BASELINE.json north_rule).

The general DataFrame path (``aggregate.partials_df``) remains the right
choice when the input is already a transformed DataFrame; this module is the
performance path for sketching columns straight off a parquet/Iceberg table.
Both feed the same partial kernel, ``aggregate.PartialSketches``; here its
one split loop is ``ingest_splits``, which ``plans.checkpoint`` also runs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Iterable, Iterator

from .aggregate import (
    PartialSketches,
    SketchSpec,
    _column_values,
    _ingest_by_key,
    fold_states,
    merge_partials,
)

__all__ = [
    "parquet_splits",
    "ingest_splits",
    "scan_partials_rdd",
    "build_sketches_scan",
    "build_sketch_grouped_scan",
]


@dataclass(frozen=True)
class _Split:
    path: str
    row_groups: tuple[int, ...]
    rows: int


def _normalize_paths(paths: list[str] | str) -> list[str]:
    import glob
    import os

    if isinstance(paths, str):
        p = paths
        return (
            sorted(glob.glob(os.path.join(p, "*.parquet")))
            if os.path.isdir(p)
            else [p]
        )
    return list(paths)


def parquet_splits(
    paths: list[str], target_rows_per_split: int = 2_000_000
) -> list[_Split]:
    """Split a parquet file set into row-group-aligned scan units.

    Small files become one split each; files with many row groups are split
    so each task gets ~target_rows_per_split rows (keeps tasks balanced even
    when file sizes are skewed — explicit skew handling per the north_rule).
    """
    import pyarrow.parquet as pq

    splits: list[_Split] = []
    for p in paths:
        md = pq.ParquetFile(p).metadata
        groups = [(i, md.row_group(i).num_rows) for i in range(md.num_row_groups)]
        cur: list[int] = []
        cur_rows = 0
        for i, nrows in groups:
            cur.append(i)
            cur_rows += nrows
            if cur_rows >= target_rows_per_split:
                splits.append(_Split(p, tuple(cur), cur_rows))
                cur, cur_rows = [], 0
        if cur:
            splits.append(_Split(p, tuple(cur), cur_rows))
    return splits


# the kernel's extractor (``PartialSketches`` flattens with it), re-exported
# for the driver-side replay of the scan kernel
_column_values_arrow = _column_values


def _read_split(sp: _Split, cols: list[str], filter_expr: Any | None):
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    if filter_expr is not None:
        frag = pads.dataset(sp.path, format="parquet")
        # dataset-level split: take only this split's row groups
        frag = list(frag.get_fragments())[0].subset(
            row_group_ids=list(sp.row_groups)
        )
        return frag.to_table(columns=cols, filter=filter_expr, use_threads=False)
    # use_threads=False: each of the ~cores concurrent worker processes
    # gets a cores-sized Arrow CPU pool by default — cores^2 runnable
    # threads; measured 4-14x slower than single-threaded decode per task
    # at local[32]
    return pq.ParquetFile(sp.path).read_row_groups(
        list(sp.row_groups), columns=cols, use_threads=False
    )


def ingest_splits(
    splits: Iterable[_Split],
    sketches: dict[str, tuple[str, SketchSpec]],
    filter_expr: Any | None = None,
) -> tuple[PartialSketches, list[dict]]:
    """The one split loop of the scan and checkpoint builds: read each
    split (pruned by ``filter_expr`` when given), feed it to one
    ``PartialSketches`` in order, and record per-split lineage (path, row
    groups, rows, wall_ms)."""
    part = PartialSketches(sketches)
    lineage: list[dict] = []
    for sp in splits:
        t0 = time.perf_counter()
        tbl = _read_split(sp, part.cols, filter_expr)
        part.ingest(tbl)
        lineage.append(
            {
                "path": sp.path,
                "row_groups": list(sp.row_groups),
                "rows": tbl.num_rows,
                "wall_ms": (time.perf_counter() - t0) * 1000.0,
            }
        )
    return part, lineage


def scan_partials_rdd(
    spark,
    paths: list[str],
    sketches: dict[str, tuple[str, SketchSpec]],
    target_rows_per_split: int = 2_000_000,
    filter_expr: Any | None = None,
    partitions: int | None = None,
):
    """RDD of per-partition partial rows: dicts with serialized states +
    per-split lineage.

    Each Spark partition holds several splits (default 4 x cores waves for
    balance); the task streams every split through the kernels and emits ONE
    merged state set, so collected/shuffled bytes are O(partitions x
    state_size) regardless of split count — the CMS matrix (the largest
    state) would otherwise dominate the fan-in.

    ``filter_expr`` is a ``pyarrow.dataset`` expression pushed down into the
    parquet read (row-group stats pruning + decode-time filtering).
    """
    splits = parquet_splits(paths, target_rows_per_split)

    def run_partition(it: Iterator[_Split]) -> Iterator[dict]:
        t_part = time.perf_counter()
        part, lineage = ingest_splits(it, sketches, filter_expr)
        if not lineage:
            return
        yield {
            "rows": part.rows,
            "values_seen": part.values_seen,
            "n_splits": len(lineage),
            "wall_ms": (time.perf_counter() - t_part) * 1000.0,
            "lineage": lineage,
            **part.states(),
        }

    sc = spark.sparkContext
    if partitions is None:
        partitions = min(len(splits), sc.defaultParallelism * 4)
    return sc.parallelize(splits, max(partitions, 1)).mapPartitions(
        run_partition
    )


def build_sketches_scan(
    spark,
    paths: list[str] | str,
    sketches: dict[str, tuple[str, SketchSpec]],
    target_rows_per_split: int = 2_000_000,
    filter_expr: Any | None = None,
    partitions: int | None = None,
) -> dict[str, Any]:
    """One-pass multi-sketch build reading parquet directly in the workers.

    Returns deserialized final sketch objects keyed by name. Bit-identical
    to ``aggregate.build_sketches`` over the same rows (deterministic
    sort-based merge; verified in tests/test_scan_path.py).
    """
    paths = _normalize_paths(paths)
    names = list(sketches.keys())
    specs = {n: spec for n, (_, spec) in sketches.items()}
    rows = scan_partials_rdd(
        spark, paths, sketches, target_rows_per_split, filter_expr, partitions
    ).collect()
    merged = merge_partials(rows, names, specs)
    return {n: specs[n].from_bytes(merged[n]) for n in names}


def build_sketch_grouped_scan(
    spark,
    paths: list[str] | str,
    group_col: str,
    column: str,
    spec: SketchSpec,
    target_rows_per_split: int = 2_000_000,
    partitions: int | None = None,
) -> dict[str, Any]:
    """Grouped sketch build on the scan-in-worker fast path: each task
    reads its row-group splits with pyarrow and feeds them through
    ``_ingest_by_key`` — the per-key feed of the DataFrame grouped builds
    — into ONE ``PartialSketches`` per key for the whole partition. Only
    (key, state) pairs return to the driver — #partitions x #keys x
    O(state) bytes, never rows. Intended for low-cardinality keys (source,
    language, shard); high-cardinality grouping belongs to
    aggregate.build_sketch_grouped's shuffle.

    Returns {key: sketch object}: keys stringified, a null key as None."""
    paths = _normalize_paths(paths)
    splits = parquet_splits(paths, target_rows_per_split)
    cols = [group_col, column]

    def run_partition(it: Iterator[_Split]) -> Iterator[tuple[str | None, bytes]]:
        acc = _ingest_by_key(
            (_read_split(sp, cols, None) for sp in it),
            [group_col],
            lambda: PartialSketches({"s": (column, spec)}),
        )
        for (key,), part in acc.items():
            yield (None if key is None else str(key), part.states()["state_s"])

    sc = spark.sparkContext
    if partitions is None:
        partitions = min(len(splits), sc.defaultParallelism * 4)
    pairs = (
        sc.parallelize(splits, max(partitions, 1))
        .mapPartitions(run_partition)
        .groupByKey()  # #keys x #partitions tiny state rows
        .mapValues(lambda states: fold_states(states, spec))
        .collect()
    )
    return {k: spec.from_bytes(v) for k, v in pairs}
