"""Checkpointed/resumable sketch builds (plans/checkpoint.py).

north_rule contract: resumable from checkpoint with per-partition lineage +
metrics. Failure is simulated by running the build over a prefix of the
input first (as if the job died before the remaining batches), then
resuming over the full input: the resumed run must only scan the missing
batches and the merged result must equal a from-scratch build's totals.
"""

import shutil

import pytest

from tdigest_spark.operators.aggregate import HLL_INTS, TDIGEST, build_sketches
from tdigest_spark.plans.checkpoint import CheckpointedBuild
from tdigest_spark.sources.sequence_table import (
    default_cache_dir,
    generate_sequence_table,
)

SKETCHES = {
    "td": ("n_tok", TDIGEST(0.01)),
    "hll": ("tokens", HLL_INTS(12)),
}


@pytest.fixture(scope="module")
def seq_path():
    return generate_sequence_table(
        default_cache_dir() / "ckpttest_n16000",
        n_rows=16_000,
        seed=11,
        rows_per_file=2_000,
    )


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = tmp_path / "ckpt"
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _files(seq_path):
    return sorted(str(p) for p in seq_path.glob("*.parquet"))


def test_full_build_and_pure_resume(spark, seq_path, ckpt_dir):
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=2
    )
    first = cb.run(spark, _files(seq_path))
    assert int(first["td"].n) == 16_000
    n_batches = len(cb.metrics())
    assert n_batches == 4  # 8 files -> 8 splits -> 4 batches of 2

    # second run: everything checkpointed, no new batch files appear
    before = sorted(p.name for p in ckpt_dir.glob("batch-*.parquet"))
    again = cb.run(spark, _files(seq_path))
    after = sorted(p.name for p in ckpt_dir.glob("batch-*.parquet"))
    assert before == after
    assert again["td"].to_bytes() == first["td"].to_bytes()
    assert again["hll"].to_bytes() == first["hll"].to_bytes()


def test_resume_after_partial_failure(spark, seq_path, ckpt_dir):
    files = _files(seq_path)
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=2
    )
    # simulated crash: only half the input was processed before death
    cb.run(spark, files[:4])
    done_before = set(r["batch_key"] for r in cb.metrics())
    assert len(done_before) == 2

    # resume over the full input: previously-done batches are reused
    out = cb.run(spark, files)
    done_after = set(r["batch_key"] for r in cb.metrics())
    assert done_before <= done_after
    assert len(done_after) == 4
    assert int(out["td"].n) == 16_000

    # exactly-mergeable sketch must equal the non-checkpointed build
    direct = build_sketches(spark.read.parquet(str(seq_path)), SKETCHES)
    assert out["hll"].to_bytes() == direct["hll"].to_bytes()
    # t-digest: same totals, quantiles within bound
    assert out["td"].n == direct["td"].n
    for p in [0.1, 0.5, 0.9]:
        qa, qb = out["td"].quantile(p), direct["td"].quantile(p)
        assert abs(qa - qb) <= 0.02 * max(abs(qa), 1.0)


def test_lineage_metrics_shape(spark, seq_path, ckpt_dir):
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=3
    )
    cb.run(spark, _files(seq_path))
    m = cb.metrics()
    assert sum(r["rows"] for r in m) == 16_000
    assert all(r["wall_ms"] > 0 and r["completed_at"] > 0 for r in m)
    assert sum(r["n_splits"] for r in m) == 8


@pytest.mark.parametrize("splits_per_batch", [2, 4])
def test_checkpoint_states_equal_scan_build(
    spark, seq_path, ckpt_dir, splits_per_batch
):
    """The checkpoint and scan builds share one split loop: with one scan
    partition per checkpoint batch (same splits, same order) every sketch
    state must come out byte-identical, order-sensitive ones included."""
    from tdigest_spark.operators.aggregate import (
        BLOOM_INTS,
        CMS_INTS,
        DDSKETCH_SPEC,
        KLL_SPEC,
        MG_SPEC,
    )
    from tdigest_spark.operators.scan import build_sketches_scan, parquet_splits

    sketches = {
        "td_tokens": ("tokens", TDIGEST(0.01)),
        "td_ntok": ("n_tok", TDIGEST(0.01)),
        "kll": ("tokens", KLL_SPEC(200)),
        "mg": ("tokens", MG_SPEC(32)),
        "dd": ("n_tok", DDSKETCH_SPEC(0.01)),
        "hll": ("tokens", HLL_INTS(12)),
        "cms": ("tokens", CMS_INTS(5, 4096, 32)),
        "bloom": ("tokens", BLOOM_INTS(20_000, 0.01)),
    }
    files = _files(seq_path)
    n_splits = len(parquet_splits(files, 2_000))
    assert n_splits == 8
    ckpt = CheckpointedBuild(
        ckpt_dir, sketches, target_rows_per_split=2_000,
        splits_per_batch=splits_per_batch,
    ).run(spark, files)
    scan = build_sketches_scan(
        spark, files, sketches, target_rows_per_split=2_000,
        partitions=n_splits // splits_per_batch,
    )
    for name in sketches:
        assert ckpt[name].to_bytes() == scan[name].to_bytes(), name


def test_torn_checkpoint_file_is_redone(spark, seq_path, ckpt_dir):
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=2
    )
    cb.run(spark, _files(seq_path))
    victim = sorted(ckpt_dir.glob("batch-*.parquet"))[0]
    victim.write_bytes(b"not parquet")  # simulate torn write
    out = cb.run(spark, _files(seq_path))
    assert int(out["td"].n) == 16_000
    assert len(cb.metrics()) == 4


def test_checkpoint_resumes_across_iceberg_appends(tmp_path, spark):
    """Snapshot-aware incremental maintenance: after an Iceberg append,
    a resumed CheckpointedBuild schedules batches only for the delta file
    and the merged digest equals a from-scratch build of the new state."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.operators.aggregate import TDIGEST_DISCRETE
    from tdigest_spark.plans.checkpoint import CheckpointedBuild
    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    f1 = root / "data" / "a.parquet"
    f2 = root / "data" / "b.parquet"
    pq.write_table(pa.table({"x": [1, 2, 3, 4]}), f1)
    s1 = W.append_snapshot(root, [f1], ts_ms=2000)
    cb = CheckpointedBuild(
        tmp_path / "ckpt", {"d": ("x", TDIGEST_DISCRETE())}, splits_per_batch=1
    )
    d1 = cb.run(spark, iceberg_scan_paths_static(str(root), snapshot_id=s1))["d"]
    assert d1.n == 4
    done1 = set(cb.completed())
    pq.write_table(pa.table({"x": [10, 11]}), f2)
    s2 = W.append_snapshot(root, [f2], ts_ms=3000)
    d2 = cb.run(spark, iceberg_scan_paths_static(str(root), snapshot_id=s2))["d"]
    assert d2.n == 6
    done2 = cb.completed()
    new = set(done2) - done1
    assert len(new) == 1  # exactly the delta file's batch ran
    lineage = json.loads(done2[new.pop()]["lineage"])
    assert [rec["path"].rsplit("/", 1)[1] for rec in lineage] == ["b.parquet"]
    # merged digest == from-scratch build over the same snapshot
    cb2 = CheckpointedBuild(
        tmp_path / "ckpt2", {"d": ("x", TDIGEST_DISCRETE())}, splits_per_batch=1
    )
    d_full = cb2.run(spark, iceberg_scan_paths_static(str(root)))["d"]
    assert d2.to_bytes() == d_full.to_bytes()
