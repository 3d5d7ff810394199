"""The three workloads: inputs, warm-up, one measured cycle, checks and
metrics. ``run.py`` drives them as a closed loop with one client.

A cycle is a fixed sequence of operations; an operation is one call into
the library as a user makes it, timed from the driver (wall and
process-tree CPU) and checked after the clock stops.
"""

from __future__ import annotations

import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import checks
import inputs
import procstat
import replay


def six_sketch_spec() -> dict:
    """bench.py's one-pass spec: two t-digests, HLL p14, CMS 5x16384,
    KLL 200 and Bloom 60000/0.01."""
    from tdigest_spark.operators.aggregate import (
        BLOOM_INTS,
        CMS_INTS,
        HLL_INTS,
        KLL_SPEC,
        TDIGEST,
    )

    return {
        "td_tokens": ("tokens", TDIGEST(0.01)),
        "td_ntok": ("n_tok", TDIGEST(0.01)),
        "hll_tokens": ("tokens", HLL_INTS(14)),
        "cms_tokens": ("tokens", CMS_INTS(5, 16384, 64)),
        "kll_tokens": ("tokens", KLL_SPEC(200)),
        "bloom_tokens": ("tokens", BLOOM_INTS(60000, 0.01)),
    }


ROWS_PER_SPLIT = 8192


@dataclass
class Op:
    kind: str
    wall: float
    cpu: float
    failures: list[str]
    cycle: int
    span: object = None  # the operation's root span in a traced run


@dataclass
class Ctx:
    """What a cycle needs: the session, the tracer, the traced run's
    ``(job span, collected rows)`` pairs and the operations so far."""

    spark: object
    tracer: object
    job_rows: list = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    cycle: int = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def op(self, kind: str, fn, check):
        """Run one operation: time ``fn()`` and then ``check(result)``."""
        cpu0 = procstat.tree_cpu_s()
        failures: list[str] = []
        t0 = time.perf_counter()
        with self.tracer.span(kind) as sp:
            try:
                out = fn()
            except Exception as e:  # a failed operation is counted, not fatal
                out, failures = None, [f"{type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        if not failures:
            try:
                failures = check(out)
            except Exception as e:
                failures = [f"check raised {type(e).__name__}: {e}"]
        self.ops.append(Op(kind, wall, cpu, failures, self.cycle, sp if self.traced else None))
        return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _iceberg_files(ctx: Ctx, table: Path) -> list[str]:
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

    with ctx.tracer.span("sources.iceberg.plan"):
        return iceberg_scan_paths_static(str(table))


def _state_bytes(sks: dict) -> dict[str, bytes]:
    return {n: sk.to_bytes() for n, sk in sks.items()}


# ---------------------------------------------------------------------------
# sequence-table workloads
# ---------------------------------------------------------------------------


class _SeqWorkload:
    shape: inputs.SeqTableShape
    replay_splits = 2
    lead_op: str
    # traced runs wrap the library's scan and checkpoint entry points
    instruments_library = True

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.spec = six_sketch_spec()
        self.table = work / "in0"
        self.digests: list[str] = []
        self.exacts: list[inputs.SeqExact] = []

    def setup(self, rep: int) -> None:
        path = inputs.make_sequence_table(self.work / f"in{rep}", self.shape, self.seed)
        files = sorted(str(p) for p in path.glob("*.parquet"))
        self.exacts.append(inputs.exact_sequence_answers(files))
        self.digests.append(inputs.data_digest(path))
        if rep:
            shutil.rmtree(path)

    def setup_failures(self) -> list[str]:
        bad = []
        if len(set(self.digests)) != 1:
            bad.append("input generator is not deterministic for one seed")
        e0 = self.exacts[0]
        for e in self.exacts[1:]:
            if not (np.array_equal(e.tok_counts, e0.tok_counts)
                    and e.per_source_tokens == e0.per_source_tokens):
                bad.append("exact answers differ between set-ups")
        return bad

    def lead_times(self, ops: list[Op]) -> list[float]:
        return [o.wall for o in ops if o.kind == self.lead_op]

    @property
    def exact(self) -> inputs.SeqExact:
        return self.exacts[0]

    def probe_tokens(self) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 0xB100])
        return rng.choice(self.exact.tok_values, size=2000, replace=False)

    # -- traced-run extras ------------------------------------------------

    def sampled_splits(self, files: list[str]):
        from tdigest_spark.operators.scan import parquet_splits

        splits = parquet_splits(files, ROWS_PER_SPLIT)
        rng = np.random.default_rng([self.seed, 0x5A])
        pick = sorted(rng.choice(len(splits), self.replay_splits, replace=False))
        return [splits[i] for i in pick]

    def kernel_layers(self, spark, files: list[str]) -> tuple[dict, list[str]]:
        """Replay a seed-chosen sample of splits layer by layer (median of
        three passes after one warm pass) and check its states against a
        one-partition Spark build of the same splits."""
        from tdigest_spark.operators.scan import parquet_splits

        splits = self.sampled_splits(files)
        replay.replay_splits(splits, self.spec)  # first-touch warm-up
        runs = [replay.replay_splits(splits, self.spec) for _ in range(3)]
        r = runs[0]
        sample_files = sorted({sp.path for sp in splits})
        want = replay.spark_states(spark, sample_files, self.spec, ROWS_PER_SPLIT)
        bad = checks.check_same_states(r.states, want, "kernel replay vs scan_partials_rdd")
        col_of = {n: c for n, (c, _) in self.spec.items()}
        out = {
            "kernel.decode_s": median(x.decode_s for x in runs),
            "kernel.flatten_s": median(x.flatten_s for x in runs),
            "operators.aggregate.prep_s": median(x.prep_s for x in runs),
            "kernel.serialize_s": median(x.serialize_s for x in runs),
            "kernel.values": r.values,
            "kernel.distinct": r.distinct,
            "kernel.dup_ratio": r.values / max(r.distinct, 1),
            "kernel.replay_splits": len(splits),
            "operators.scan.splits": len(parquet_splits(files, ROWS_PER_SPLIT)),
            "sources.iceberg.data_files": len(files),
        }
        for n in self.spec:
            out[f"sketch.{n}.ingest_ns_per_value"] = (
                median(x.ingest_s[n] for x in runs) * 1e9 / max(r.col_values[col_of[n]], 1)
            )
        return out, bad


class SeqBuild(_SeqWorkload):
    """Two operations over a 16-file Iceberg sequence table: the six-sketch
    one-pass ``build_sketches_scan`` (twice per cycle) and the per-source
    t-digest ``build_sketch_grouped_scan``, each over 8192-row splits with
    one partition per core."""

    name = "seq_build"
    shape = inputs.SeqTableShape(files=16, rows_per_file=5625)
    lead_op = "build"

    def __init__(self, work: Path, seed: int) -> None:
        super().__init__(work, seed)
        self.first_states: dict[str, bytes] | None = None
        self.quality: dict[str, float] = {}

    def _build(self, spark, files):
        from tdigest_spark.operators.scan import build_sketches_scan

        return build_sketches_scan(
            spark, files, self.spec, target_rows_per_split=ROWS_PER_SPLIT,
            partitions=spark.sparkContext.defaultParallelism,
        )

    def _grouped(self, spark, files):
        from tdigest_spark.operators.aggregate import TDIGEST
        from tdigest_spark.operators.scan import build_sketch_grouped_scan

        return build_sketch_grouped_scan(
            spark, files, "source", "tokens", TDIGEST(0.01),
            target_rows_per_split=ROWS_PER_SPLIT,
            partitions=spark.sparkContext.defaultParallelism,
        )

    def warmup(self, spark) -> None:
        from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

        # one file per partition is enough to start the workers and touch
        # every code path of both operations
        files = iceberg_scan_paths_static(str(self.table))[:4]
        self._build(spark, files)
        self._grouped(spark, files)

    def cycle(self, ctx: Ctx) -> None:
        probe = self.probe_tokens()

        def check_build(sks):
            states = _state_bytes(sks)
            if self.first_states is None:
                self.first_states = states
                self.quality = checks.six_sketch_quality(sks, self.exact)
            return checks.check_six_sketches(sks, self.exact, probe) + checks.check_same_states(
                states, self.first_states, "repeated build"
            )

        # the six-sketch build is the lead operation; running it twice per
        # cycle doubles its samples in a run
        for _ in range(2):
            ctx.op("build", lambda: self._build(ctx.spark, _iceberg_files(ctx, self.table)), check_build)
        ctx.op(
            "grouped",
            lambda: self._grouped(ctx.spark, _iceberg_files(ctx, self.table)),
            lambda res: checks.check_grouped(res, self.exact),
        )

    def report(self, ops: list[Op]) -> dict:
        tokens = self.exact.tokens
        build = [o for o in ops if o.kind == "build"]
        grouped = [o for o in ops if o.kind == "grouped"]
        q = self.quality
        return {
            "tokens_per_s": (tokens / median(o.wall for o in build), "tokens/s", len(build)),
            "grouped_tokens_per_s": (tokens / median(o.wall for o in grouped), "tokens/s", len(grouped)),
            "cpu_s_per_gtoken": (median(o.cpu for o in build) * 1e9 / tokens, "s", len(build)),
            "quantile_err": (max(q.get("td_tokens.cdf_err", 0), q.get("td_ntok.cdf_err", 0)), "ratio", 1),
            "state_bytes": (sum(len(b) for b in (self.first_states or {}).values()), "bytes", 1),
        }

    def layers(self, spark, ctx: Ctx) -> tuple[dict, list[str]]:
        import pickle

        from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

        files = iceberg_scan_paths_static(str(self.table))
        out, bad = self.kernel_layers(spark, files)
        # distributed task view, from the traced builds' collected rows
        cores = spark.sparkContext.defaultParallelism
        task = {"p50": [], "max": [], "skew": [], "sched": [], "bytes": []}
        for sp, rows in ctx.job_rows:
            walls = sorted(r["wall_ms"] / 1000.0 for r in rows)
            task["p50"].append(median(walls))
            task["max"].append(walls[-1])
            task["skew"].append(walls[-1] / max(median(walls), 1e-9))
            task["sched"].append(sp.dur - walls[-1])
            task["bytes"].append(len(pickle.dumps(rows)))
        out["operators.scan.task_s.p50"] = median(task["p50"])
        out["operators.scan.task_s.max"] = median(task["max"])
        out["operators.scan.task_skew"] = median(task["skew"])
        out["operators.scan.sched_s"] = median(task["sched"])
        out["operators.scan.collect_bytes"] = median(task["bytes"])
        # sketch matrix: state size, merge cost, observed error over bound
        rows = ctx.job_rows[0][1] if ctx.job_rows else []
        q = self.quality
        err_over = {
            "td_tokens": q["td_tokens.cdf_err"] / checks.CDF_BOUND,
            "td_ntok": q["td_ntok.cdf_err"] / checks.CDF_BOUND,
            "hll_tokens": q["hll_tokens.rel_err"] / q["hll_tokens.bound"],
            "cms_tokens": q["cms_tokens.max_over_frac"] / q["cms_tokens.bound"],
            "kll_tokens": q["kll_tokens.rank_err"] / q["kll_tokens.bound"],
            "bloom_tokens": q["bloom_tokens.fpr"] / q["bloom_tokens.bound"],
        }
        from_bytes_s = 0.0
        for n, (_, spec) in self.spec.items():
            final = self.first_states[n]
            out[f"sketch.{n}.state_bytes"] = len(final)
            if len(rows) >= 2:
                a, b = rows[0][f"state_{n}"], rows[1][f"state_{n}"]
                out[f"sketch.{n}.merge_us"] = median(_clock(lambda: spec.merge_bytes(a, b)) for _ in range(5)) * 1e6
            out[f"sketch.{n}.err_over_bound"] = err_over[n]
            from_bytes_s += median(_clock(lambda: spec.from_bytes(final)) for _ in range(5))
        out["sketch.from_bytes_s"] = from_bytes_s
        # grouped build: keys and the (key, state) pairs the map side emits
        out["grouped.keys"] = len(self.exact.per_source_tokens)
        out["grouped.states_shuffled"] = _grouped_pairs(files, cores)
        return out, bad


def _clock(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _grouped_pairs(files: list[str], partitions: int) -> int:
    """(key, state) pairs a grouped scan emits: one per source present in
    each partition's splits (Spark slices the split list contiguously)."""
    import pyarrow.parquet as pq

    from tdigest_spark.operators.scan import parquet_splits

    splits = parquet_splits(files, ROWS_PER_SPLIT)
    n = len(splits)
    total = 0
    for i in range(partitions):
        part = splits[i * n // partitions : (i + 1) * n // partitions]
        keys = set()
        for sp in part:
            t = pq.ParquetFile(sp.path).read_row_groups(list(sp.row_groups), columns=["source"])
            keys.update(t.column("source").to_pylist())
        total += len(keys)
    return total


class CkptSmallFiles(_SeqWorkload):
    """Checkpointed six-sketch builds over 256 one-row-group files with 8
    splits per batch (32 batch files). A cycle is a cold build, three full
    resumes, and a resume after a seed-chosen eighth of the batch files was
    removed."""

    name = "ckpt_small_files"
    shape = inputs.SeqTableShape(files=256, rows_per_file=200)
    lead_op = "resume"
    replay_splits = 8
    splits_per_batch = 8
    resumes = 3

    def __init__(self, work: Path, seed: int) -> None:
        super().__init__(work, seed)
        self.ckpt = work / "ckpt"
        self.reference: dict[str, bytes] = {}
        self.cold_states: dict[str, bytes] | None = None
        self.kernel_ms: list[float] = []
        self.bytes_written: list[int] = []
        self.state_bytes_total: list[int] = []
        self.rerun_ratio: list[float] = []

    def _cb(self):
        from tdigest_spark.plans.checkpoint import CheckpointedBuild

        return CheckpointedBuild(
            self.ckpt, self.spec, target_rows_per_split=ROWS_PER_SPLIT,
            splits_per_batch=self.splits_per_batch,
        )

    def warmup(self, spark) -> None:
        from tdigest_spark.operators.scan import build_sketches_scan
        from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

        files = iceberg_scan_paths_static(str(self.table))
        # HLL and CMS are order-insensitive: the plain scan build's states
        # are the reference the checkpointed states must equal
        ref = build_sketches_scan(spark, files, self.spec, target_rows_per_split=ROWS_PER_SPLIT)
        self.reference = {n: ref[n].to_bytes() for n in ("hll_tokens", "cms_tokens")}
        # a cold and a resumed run over an eighth of the files warm the
        # checkpoint write and read paths
        shutil.rmtree(self.ckpt, ignore_errors=True)
        self._cb().run(spark, files[: len(files) // 8])
        self._cb().run(spark, files[: len(files) // 8])
        shutil.rmtree(self.ckpt)

    def _completed_at(self) -> dict[str, float]:
        return {m["batch_key"]: m["completed_at"] for m in self._cb().metrics()}

    def cycle(self, ctx: Ctx) -> None:
        probe = self.probe_tokens()
        spark = ctx.spark
        shutil.rmtree(self.ckpt, ignore_errors=True)

        def run():
            return self._cb().run(spark, _iceberg_files(ctx, self.table))

        def check_cold(sks):
            self.cold_states = _state_bytes(sks)
            bad = checks.check_six_sketches(sks, self.exact, probe)
            bad += checks.check_same_states(self.cold_states, self.reference, "checkpointed vs scan build")
            return bad

        ctx.op("cold", run, check_cold)
        if ctx.traced:
            self._record_cold()
        before = self._completed_at()

        def check_resume(sks, removed=()):
            bad = checks.check_same_states(_state_bytes(sks), self.cold_states, "resume")
            after = self._completed_at()
            rerun = {k for k in after if after[k] != before.get(k)}
            if rerun != set(removed):
                bad.append(f"re-ran {len(rerun)} batches, expected {len(removed)}")
            if removed:
                self.rerun_ratio.append(len(rerun) / len(after))
            return bad

        for _ in range(self.resumes):
            ctx.op("resume", run, check_resume)
        batches = sorted(self.ckpt.glob("batch-*.parquet"))
        rng = np.random.default_rng([self.seed, 0xC4, ctx.cycle])
        gone = rng.choice(len(batches), len(batches) // 8, replace=False)
        removed = [batches[i].name[len("batch-"):-len(".parquet")] for i in gone]
        for i in gone:
            batches[i].unlink()
        ctx.op("partial", run, lambda sks: check_resume(sks, removed))

    def _record_cold(self) -> None:
        import pyarrow.parquet as pq

        files = sorted(self.ckpt.glob("batch-*.parquet"))
        self.bytes_written.append(sum(f.stat().st_size for f in files))
        self.kernel_ms.append(sum(m["wall_ms"] for m in self._cb().metrics()))
        state = 0
        for f in files:
            t = pq.read_table(f)
            state += sum(sum(len(b) for b in t.column(f"state_{n}").to_pylist()) for n in self.spec)
        self.state_bytes_total.append(state)

    def report(self, ops: list[Op]) -> dict:
        by = {k: [o for o in ops if o.kind == k] for k in ("cold", "resume", "partial")}
        return {
            "ckpt_build_s": (median(o.wall for o in by["cold"]), "s", len(by["cold"])),
            "resume_s": (median(o.wall for o in by["resume"]), "s", len(by["resume"])),
            "partial_resume_s": (median(o.wall for o in by["partial"]), "s", len(by["partial"])),
        }

    def layers(self, spark, ctx: Ctx) -> tuple[dict, list[str]]:
        from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

        files = iceberg_scan_paths_static(str(self.table))
        out, bad = self.kernel_layers(spark, files)
        cores = spark.sparkContext.defaultParallelism
        cold = [o.wall for o in ctx.ops if o.kind == "cold"]
        kernel_s = median(self.kernel_ms) / 1000.0
        out["plans.checkpoint.batch_kernel_s"] = kernel_s
        out["plans.checkpoint.nonkernel_s"] = median(cold) - kernel_s / cores
        out["plans.checkpoint.bytes_written"] = median(self.bytes_written)
        out["plans.checkpoint.bytes_per_state_byte"] = median(self.bytes_written) / max(
            median(self.state_bytes_total), 1
        )
        out["plans.checkpoint.batches_rerun_ratio"] = median(self.rerun_ratio)
        return out, bad


# ---------------------------------------------------------------------------
# query mix
# ---------------------------------------------------------------------------

QUERIES = [
    "q1_pricing_summary",
    "tdigest_quantity_quantiles",
    "tdigest_tree_merged_quantiles",
    "ddsketch_price_by_flag",
    "hll_users_by_event_type",
    "theta_event_audience_ops",
    "sql_digest_surface",
    "grouped_digest_functions",
    "mg_heavy_words_by_source",
]


class SketchQueries:
    """One pass runs the nine queries in a seed-chosen order, clearing
    Spark's cache before each, and compares every result with its DuckDB
    oracle rows."""

    name = "sketch_queries"
    lineitem_rows = 100_000
    # the query spans are the layers here; the scan kernel that
    # tdigest_quantity_quantiles reaches is not split out
    instruments_library = False

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.sf_dir = work / "in0"
        self.digests: list[str] = []
        self.oracles: list[dict] = []

    def setup(self, rep: int) -> None:
        d = inputs.make_query_tables(self.work / f"in{rep}", self.seed, self.lineitem_rows)
        self.oracles.append(inputs.oracle_rows(d, QUERIES))
        self.digests.append(inputs.data_digest(d))
        if rep:
            shutil.rmtree(d)

    def setup_failures(self) -> list[str]:
        bad = []
        if len(set(self.digests)) != 1:
            bad.append("input generator is not deterministic for one seed")
        if any(o != self.oracles[0] for o in self.oracles[1:]):
            bad.append("oracle answers differ between set-ups")
        return bad

    def warmup(self, spark) -> None:
        # same code paths on a small seed-derived copy: first-touch costs
        # (Python workers, Arrow UDF start-up, codegen) land here
        import __spark_entry__ as entry

        from concurrent.futures import ThreadPoolExecutor

        small = inputs.make_query_tables(self.work / "warm", self.seed + 1, 500)
        qs = entry.queries()
        # Spark runs jobs from several driver threads at once, so the
        # one-time costs of the nine queries overlap
        with ThreadPoolExecutor(4) as pool:
            futures = [pool.submit(lambda n=n: qs[n](spark, str(small)).collect()) for n in QUERIES]
            for f in futures:
                f.result()

    def cycle(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        qs = entry.queries()
        order = np.random.default_rng([self.seed, 0x9, ctx.cycle]).permutation(len(QUERIES))
        want = self.oracles[0]
        for i in order:
            name = QUERIES[i]
            ctx.spark.catalog.clearCache()

            def run(name=name):
                with ctx.tracer.span(f"query.{name}"):
                    df = qs[name](ctx.spark, str(self.sf_dir))
                    return sorted(df.columns), df.collect()

            def check(out, name=name):
                cols, rows = out
                got = inputs.normalize_rows([tuple(r[c] for c in cols) for r in rows], range(len(cols)))
                return checks.check_rows(cols, got, want[name])

            ctx.op(name, run, check)

    def lead_times(self, ops: list[Op]) -> list[float]:
        """Geometric mean of the nine query times, one per pass: the
        typical query, which the one long query does not dominate."""
        logs: dict[int, list[float]] = {}
        for o in ops:
            logs.setdefault(o.cycle, []).append(np.log(o.wall))
        return [float(np.exp(np.mean(v))) for v in logs.values()]

    def report(self, ops: list[Op]) -> dict:
        passes = {}
        for o in ops:
            passes[o.cycle] = passes.get(o.cycle, 0.0) + o.wall
        return {"mix_s": (median(passes.values()), "s", len(passes))}

    def layers(self, spark, ctx: Ctx) -> tuple[dict, list[str]]:
        return {}, []


WORKLOADS = {w.name: w for w in (SeqBuild, CkptSmallFiles, SketchQueries)}
