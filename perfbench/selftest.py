"""Self-tests of the benchmark's own checks and input generator.

    python3 perfbench/selftest.py

Shows, without Spark, that every correctness check accepts a correct
output and rejects a corrupted state and a dropped split (or row), and
that the input generators give identical bytes for one seed and different
bytes for another. Exits 1 if any case misbehaves.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    import numpy as np

    import checks
    import inputs
    import replay
    import workloads
    from tdigest_spark.operators.scan import parquet_splits

    results: list[tuple[str, bool]] = []

    def case(name: str, ok: bool) -> None:
        results.append((name, ok))
        print(f"{'PASS' if ok else 'FAIL'} {name}")

    (ROOT / ".bench_work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="selftest-", dir=ROOT / ".bench_work"))
    try:
        shape = inputs.SeqTableShape(files=4, rows_per_file=400)
        a = inputs.make_sequence_table(work / "a", shape, seed=11)
        b = inputs.make_sequence_table(work / "b", shape, seed=11)
        c = inputs.make_sequence_table(work / "c", shape, seed=12)
        case("sequence generator: same seed, same bytes", inputs.data_digest(a) == inputs.data_digest(b))
        case("sequence generator: other seed, other bytes", inputs.data_digest(a) != inputs.data_digest(c))
        qa = inputs.make_query_tables(work / "qa", 11, 2000)
        qb = inputs.make_query_tables(work / "qb", 11, 2000)
        qc = inputs.make_query_tables(work / "qc", 12, 2000)
        case("query tables: same seed, same bytes", inputs.data_digest(qa) == inputs.data_digest(qb))
        case("query tables: other seed, other bytes", inputs.data_digest(qa) != inputs.data_digest(qc))

        files = sorted(str(p) for p in a.glob("*.parquet"))
        ex = inputs.exact_sequence_answers(files)
        spec = workloads.six_sketch_spec()
        splits = parquet_splits(files, workloads.ROWS_PER_SPLIT)

        def build(sps) -> dict:
            states = replay.replay_splits(sps, spec).states
            return {n: spec[n][1].from_bytes(s) for n, s in states.items()}

        probe = np.random.default_rng(3).choice(ex.tok_values, 200, replace=False)
        good = build(splits)
        case("six-sketch check accepts a correct build", not checks.check_six_sketches(good, ex, probe))
        case("six-sketch check rejects a dropped split", bool(checks.check_six_sketches(build(splits[1:]), ex, probe)))

        def corrupted(name: str, mutate) -> dict:
            sks = build(splits)
            mutate(sks[name])
            return sks

        corruptions = {
            "td_tokens": lambda d: setattr(d, "means", d.means + 1000.0),
            "td_ntok": lambda d: setattr(d, "n", d.n + 1),
            "hll_tokens": lambda h: h.registers.fill(0),
            "cms_tokens": lambda c: c.table.fill(0),
            "bloom_tokens": lambda bf: bf.bits.fill(0),
        }
        for name, mutate in corruptions.items():
            bad = checks.check_six_sketches(corrupted(name, mutate), ex, probe)
            case(f"six-sketch check rejects a corrupted {name} state", bool(bad))

        want = {n: sk.to_bytes() for n, sk in good.items()}
        case("state-identity check accepts identical states", not checks.check_same_states(dict(want), want, "t"))
        for name in want:
            flipped = bytearray(want[name])
            flipped[len(flipped) // 2] ^= 0x10
            case(f"state-identity check rejects a bit flip in {name}",
                 bool(checks.check_same_states({**want, name: bytes(flipped)}, want, "t")))
        dropped = {n: sk.to_bytes() for n, sk in build(splits[:-1]).items()}
        case("state-identity check rejects a dropped split", bool(checks.check_same_states(dropped, want, "t")))

        grouped = _grouped_digests(files)
        case("per-source check accepts a correct grouped build", not checks.check_grouped(grouped, ex))
        case("per-source check rejects a dropped split", bool(checks.check_grouped(_grouped_digests(files[1:]), ex)))
        grouped["web"].n += 1
        case("per-source check rejects a corrupted state", bool(checks.check_grouped(grouped, ex)))

        cols = ["k", "v"]
        rows = [(1, 0.5), (2, 0.25)]
        case("oracle-row check accepts equal rows", not checks.check_rows(cols, rows, (cols, rows)))
        case("oracle-row check rejects a dropped row", bool(checks.check_rows(cols, rows[:1], (cols, rows))))
        case("oracle-row check rejects a changed value", bool(checks.check_rows(cols, [(1, 0.5), (2, 0.26)], (cols, rows))))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = [n for n, ok in results if not ok]
    print(f"{len(results) - len(failed)}/{len(results)} self-test cases passed")
    return 1 if failed else 0


def _grouped_digests(files: list[str]) -> dict:
    """Per-source t-digests of the token column, built directly."""
    import numpy as np
    import pyarrow.parquet as pq

    from tdigest_spark.sketch.tdigest import TDigest

    out: dict = {}
    for f in files:
        t = pq.read_table(f, columns=["source", "tokens"])
        src = np.asarray(t.column("source").to_pylist())
        toks = t.column("tokens").to_pylist()
        for s in np.unique(src):
            vals = np.concatenate([np.asarray(x, dtype=np.int32) for x, k in zip(toks, src) if k == s])
            out.setdefault(str(s), TDigest(0.01)).push(vals)
    return out


if __name__ == "__main__":
    sys.exit(main())
