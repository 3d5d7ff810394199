"""Scan-in-worker fast path (operators/scan.py) vs the DataFrame path.

The fast path must be bit-identical to aggregate.build_sketches over the
same rows: both build per-unit partials with the same kernels and fold them
with the same deterministic sorted binary-tree merge, so serialized states
must match byte-for-byte.
"""

import numpy as np
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators.aggregate import (
    CMS_INTS,
    DDSKETCH_SPEC,
    HLL_INTS,
    KLL_SPEC,
    MG_SPEC,
    MOMENTS_SPEC,
    TDIGEST,
    build_sketches,
)
from tdigest_spark.operators.scan import (
    build_sketches_scan,
    parquet_splits,
    scan_partials_rdd,
)
from tdigest_spark.sources.sequence_table import (
    default_cache_dir,
    generate_sequence_table,
)


@pytest.fixture(scope="module")
def seq_path():
    return generate_sequence_table(
        default_cache_dir() / "scantest_n20000",
        n_rows=20_000,
        seed=3,
        rows_per_file=2_500,
    )


SKETCHES = {
    "td_tokens": ("tokens", TDIGEST(0.01)),
    "td_ntok": ("n_tok", TDIGEST(0.01)),
    "hll": ("tokens", HLL_INTS(14)),
    "kll": ("n_tok", KLL_SPEC(200)),
    "dds": ("n_tok", DDSKETCH_SPEC(0.01)),
    "mg": ("n_tok", MG_SPEC(32)),
}


def test_scan_matches_dataframe_path(spark, seq_path):
    """HLL is exactly layout-invariant (register max), so the two paths
    must agree bit-for-bit; t-digest/KLL partials depend on ingest batching,
    so the contract is identical totals + quantiles within the error bound."""
    a = build_sketches(spark.read.parquet(str(seq_path)), SKETCHES)
    b = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500
    )
    assert a["hll"].to_bytes() == b["hll"].to_bytes()
    # DDSketch merge is exact integer addition: layout/batching-invariant,
    # so the two paths must agree bit-for-bit like HLL
    assert a["dds"].to_bytes() == b["dds"].to_bytes()
    assert a["td_tokens"].n == b["td_tokens"].n
    assert a["td_ntok"].n == b["td_ntok"].n
    # MG state depends on batching, but its guarantee does not
    assert a["mg"].n == b["mg"].n
    for sk in (a["mg"], b["mg"]):
        assert sk.err * 33 <= sk.n
    vals = np.sort(
        np.array(
            [
                r[0]
                for r in spark.read.parquet(str(seq_path))
                .select("n_tok")
                .collect()
            ]
        )
    )
    n = len(vals)
    for p in [0.01, 0.1, 0.5, 0.9, 0.99]:
        qa, qb = a["td_ntok"].quantile(p), b["td_ntok"].quantile(p)
        assert abs(qa - qb) <= 0.02 * max(abs(qa), 1.0), p
        # KLL: both paths must land within rank tolerance of each other
        ra = np.searchsorted(vals, a["kll"].quantile(p)) / n
        rb = np.searchsorted(vals, b["kll"].quantile(p)) / n
        assert abs(ra - rb) <= 0.02, p


def test_scan_partition_coalescing_invariant(spark, seq_path):
    """Exactly-mergeable sketches are independent of how many Spark
    partitions hold the splits; identical split sets + identical partition
    assignment reproduce t-digest bits too (determinism)."""
    few = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500, partitions=2
    )
    many = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500, partitions=8
    )
    assert few["hll"].to_bytes() == many["hll"].to_bytes()
    assert few["dds"].to_bytes() == many["dds"].to_bytes()
    assert few["td_tokens"].n == many["td_tokens"].n
    again = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500, partitions=8
    )
    for name in SKETCHES:
        assert again[name].to_bytes() == many[name].to_bytes(), name



def test_scan_bloom_state_independent_of_split_layout(spark, seq_path, tmp_path):
    """A Bloom filter is a set of bits, so its state bytes must not depend
    on how the same rows are cut into splits and partitions: one split of
    eight row groups in one partition against eight one-row-group splits
    over eight partitions."""
    import pyarrow.parquet as pq

    from tdigest_spark.operators.aggregate import BLOOM_INTS

    one_file = tmp_path / "seq.parquet"
    pq.write_table(pq.read_table(str(seq_path)), one_file, row_group_size=2_500)
    sk = {"bloom": ("tokens", BLOOM_INTS(100_000))}
    one = build_sketches_scan(
        spark, [str(one_file)], sk, target_rows_per_split=20_000, partitions=1
    )
    eight = build_sketches_scan(
        spark, [str(one_file)], sk, target_rows_per_split=2_500, partitions=8
    )
    assert len(parquet_splits([str(one_file)], 2_500)) == 8
    assert one["bloom"].to_bytes() == eight["bloom"].to_bytes()

def test_scan_filter_pushdown(spark, seq_path):
    out = build_sketches_scan(
        spark,
        str(seq_path),
        {"td": ("n_tok", TDIGEST(0.01))},
        target_rows_per_split=2_500,
        filter_expr=(pads.field("source") == "web"),
    )
    exact = (
        spark.read.parquet(str(seq_path)).where(F.col("source") == "web").count()
    )
    assert int(out["td"].n) == exact


def test_scan_lineage_metrics(spark, seq_path):
    rows = scan_partials_rdd(
        spark,
        sorted(str(p) for p in seq_path.glob("*.parquet")),
        SKETCHES,
        target_rows_per_split=2_500,
        partitions=4,
    ).collect()
    assert sum(r["rows"] for r in rows) == 20_000
    assert all(r["n_splits"] == len(r["lineage"]) for r in rows)
    assert all(sp["wall_ms"] >= 0 for r in rows for sp in r["lineage"])


def test_parquet_splits_row_group_alignment(seq_path):
    files = sorted(str(p) for p in seq_path.glob("*.parquet"))
    one_per_file = parquet_splits(files, target_rows_per_split=10_000)
    assert len(one_per_file) == len(files)
    fine = parquet_splits(files, target_rows_per_split=1)
    # at most one split per row group
    assert len(fine) >= len(files)
    assert sum(s.rows for s in fine) == 20_000


def test_scan_accuracy_vs_exact(spark, seq_path):
    out = build_sketches_scan(
        spark,
        str(seq_path),
        {"td": ("n_tok", TDIGEST(0.01))},
        target_rows_per_split=2_500,
    )
    vals = np.sort(
        np.array(
            [r[0] for r in spark.read.parquet(str(seq_path)).select("n_tok").collect()]
        ),
        kind="stable",
    )
    n = len(vals)
    for p in [0.01, 0.1, 0.5, 0.9, 0.99]:
        est = out["td"].quantile(p)
        # rank error bound: |rank(est) - p*n| small relative to q(1-q) shape
        rank = np.searchsorted(vals, est) / n
        assert abs(rank - p) < max(0.02, 3 * 4 * 0.01 * p * (1 - p))


def test_grouped_scan_matches_grouped_dataframe_path(spark, seq_path):
    """Per-source grouped build on the scan path vs the shuffle path:
    identical totals per key; HLL states bit-equal (layout-invariant)."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.aggregate import build_sketch_grouped
    from tdigest_spark.operators.scan import build_sketch_grouped_scan
    from tdigest_spark.sketch.hll import HLL
    from tdigest_spark.sketch.tdigest import TDigest

    df = spark.read.parquet(str(seq_path))
    exact = {r["source"]: r["count"] for r in df.groupBy("source").count().collect()}

    got = build_sketch_grouped_scan(
        spark, str(seq_path), "source", "n_tok", TDIGEST(0.01),
        target_rows_per_split=2_500,
    )
    assert {k: int(v.n) for k, v in got.items()} == exact

    # tokens (list column) path: totals = sum(n_tok) per source
    tok = build_sketch_grouped_scan(
        spark, str(seq_path), "source", "tokens", TDIGEST(0.01),
        target_rows_per_split=2_500,
    )
    exact_tok = {
        r["source"]: r["s"]
        for r in df.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
    }
    assert {k: int(v.n) for k, v in tok.items()} == exact_tok

    # HLL bit-equality vs the DataFrame grouped path
    hll_scan = build_sketch_grouped_scan(
        spark, str(seq_path), "source", "n_tok", HLL_INTS(12),
        target_rows_per_split=2_500,
    )
    hll_df = build_sketch_grouped(df, ["source"], "n_tok", HLL_INTS(12))
    for r in hll_df.collect():
        assert hll_scan[r["source"]].to_bytes() == bytes(r["state"])

    # counter-table CMS and moments merge exactly: bit-equal as well
    for spec in (CMS_INTS(5, 8192, 0), MOMENTS_SPEC()):
        scan = build_sketch_grouped_scan(
            spark, str(seq_path), "source", "n_tok", spec,
            target_rows_per_split=2_500,
        )
        grouped = build_sketch_grouped(df, ["source"], "n_tok", spec).collect()
        assert set(scan) == {r["source"] for r in grouped}, spec.name
        for r in grouped:
            assert scan[r["source"]].to_bytes() == bytes(r["state"]), spec.name


def test_grouped_scan_kll_rank_error(spark, seq_path):
    """Grouped-scan KLL takes the shared sorted feed (``update_sorted``),
    like the ungrouped kernel: per key, n is exact and every quantile
    lands within KLL's rank-error bound of the exact per-key data."""
    from tdigest_spark.operators.scan import build_sketch_grouped_scan

    got = build_sketch_grouped_scan(
        spark, str(seq_path), "source", "n_tok", KLL_SPEC(200),
        target_rows_per_split=2_500,
    )
    rows = spark.read.parquet(str(seq_path)).select("source", "n_tok").collect()
    exact: dict = {}
    for r in rows:
        exact.setdefault(r["source"], []).append(r["n_tok"])
    assert set(got) == set(exact)
    ps = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    for key, vals in exact.items():
        vals = np.sort(np.asarray(vals))
        sk = got[key]
        assert int(sk.n) == vals.size, key
        q = sk.quantile(ps)
        left = np.searchsorted(vals, q, side="left") / vals.size
        right = np.searchsorted(vals, q, side="right") / vals.size
        err = np.maximum(left - ps, 0) + np.maximum(ps - right, 0)
        assert err.max() < 3.3 / 200, (key, err.max())


def test_grouped_scan_null_key_is_own_group(spark, tmp_path):
    """A null group key is its own group (key None) with the right n,
    next to string keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.operators.scan import build_sketch_grouped_scan

    src = ["a", None, "b", None, "a", None, "b", "a"]
    tbl = pa.table({"source": src, "n_tok": pa.array(range(len(src)), pa.int32())})
    pq.write_table(tbl.slice(0, 5), tmp_path / "part-0.parquet")
    pq.write_table(tbl.slice(5), tmp_path / "part-1.parquet")
    got = build_sketch_grouped_scan(spark, str(tmp_path), "source", "n_tok", TDIGEST(0.01))
    assert {k: int(v.n) for k, v in got.items()} == {"a": 3, "b": 2, None: 3}
    assert sorted(got[None].quantile([0.0, 1.0])) == [1.0, 5.0]
