"""Benchmark entry point: one named workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload seq_build --seed 1 --seconds 20 --trace 0

Run from the repository root. The run sets up its inputs three times (the
median is ``setup_s``; the copies must be identical), starts one
``local[4]`` session, warms up, then runs the workload's cycle as a closed
loop with one client until ``--seconds`` have passed, checking every
operation's output. With ``--trace 0`` the last line carries the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` the cycles
run with spans around the library calls and the Spark event log on, and
the last line carries the per-layer metrics. Lines before it are a
readable report: every workload metric by name with unit and sample count,
the calibration kernel, and failures. Everything is written under
``.bench_work/`` in the repository root and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
SETUP_REPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_checkout() -> None:
    for need in ("tdigest_spark/operators/scan.py", "__spark_entry__.py", "tools/verify_oracles.py", "BENCHMARK.json"):
        if not (ROOT / need).is_file():
            _fail(f"{need} not found under {ROOT}: run from a full checkout")


def _spark_env(work: Path, traced: bool) -> None:
    """Session settings sized to a 4-core, 15 GiB host, passed through the
    environment so ``get_spark`` itself is unchanged."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # Python workers import tdigest_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = str(tmp)
    conf = {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _start_spark():
    from tdigest_spark.sources.tables import get_spark

    spark = get_spark(master=f"local[{CORES}]", app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def _reap_tree() -> None:
    """Last resort at exit: no process this run started may outlive it."""
    import procstat

    me = os.getpid()
    for pid in procstat.tree()[::-1]:
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                time.sleep(0.1)
        except ChildProcessError:
            break


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _check_checkout()
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    traced = bool(args.trace)
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = _run(args, spec, work, traced)
    finally:
        _reap_tree()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, spec, work: Path, traced: bool) -> dict:
    import eventlog
    import procstat
    import spans
    import workloads
    from workloads import Ctx, median

    calib_start = procstat.calibration_s()
    _spark_env(work, traced)
    wl = workloads.WORKLOADS[args.workload](work, args.seed)

    setup_times = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(rep)
        setup_times.append(time.perf_counter() - t)
    setup_failures = wl.setup_failures()

    t = time.perf_counter()
    spark = _start_spark()
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warmup(spark)
    warmup_s = time.perf_counter() - t

    tracer = spans.Tracer(traced)
    ctx = Ctx(spark, tracer)
    loop_t0_ms = time.time() * 1000.0
    steal0 = procstat.host_steal_s()
    t0 = time.perf_counter()
    while True:
        if traced and wl.instruments_library:
            with spans.instrument(tracer, spark, ctx.job_rows):
                wl.cycle(ctx)
        else:
            wl.cycle(ctx)
        ctx.cycle += 1
        if time.perf_counter() - t0 >= args.seconds:
            break
    loop_t1_ms = time.time() * 1000.0
    loop_steal_s = procstat.host_steal_s() - steal0
    cycles = ctx.cycle
    rss_mb = procstat.worker_peak_rss_mib()

    layer_failures: list[str] = []
    per_layer: dict[str, float] = {}
    if traced:
        per_layer, layer_failures = wl.layers(spark, ctx)
    _stop_spark(spark)
    calib_end = procstat.calibration_s()

    ops = ctx.ops
    if traced:
        times, worst = spans.layer_times(tracer, ops)
        per_layer.update(times)
        if worst > 1e-6:
            layer_failures.append(f"layers plus residual miss the op wall time by {worst:.3g} s")
        per_layer.update(eventlog.spark_metrics(work / "eventlog", loop_t0_ms, loop_t1_ms, cycles))
        per_layer["setup.session_s"] = session_s
        per_layer["setup.warmup_s"] = warmup_s
    failed = sum(1 for o in ops if o.failures) + bool(setup_failures) + bool(layer_failures)
    # the set-up determinism check and, when traced, the layer checks
    # (kernel-replay parity, span accounting) count as operations too
    attempted = len(ops) + 1 + int(traced)

    cycle_wall: dict[int, float] = {}
    cycle_cpu: dict[int, float] = {}
    for o in ops:
        cycle_wall[o.cycle] = cycle_wall.get(o.cycle, 0.0) + o.wall
        cycle_cpu[o.cycle] = cycle_cpu.get(o.cycle, 0.0) + o.cpu
    lead = wl.lead_times(ops)
    e2e = {
        "setup_s": (median(setup_times), len(setup_times)),
        "cycle_s": (median(cycle_wall.values()), len(cycle_wall)),
        "lead_op_s": (median(lead), len(lead)),
        "cpu_s": (median(cycle_cpu.values()), len(cycle_cpu)),
        "worker_rss_mb": (rss_mb, 1),
    }
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cycles={cycles} ops={len(ops)} cores={CORES}")
    rows = [(m["name"], *e2e[m["name"]][:1], m["unit"], e2e[m["name"]][1]) for m in spec["end_to_end"]]
    rows += [(k, v, u, n) for k, (v, u, n) in wl.report(ops).items()]
    rows.append(("op_fail_ratio", failed / attempted, "ratio", attempted))
    for name, value, unit, n in rows:
        print(f"  {name:<24} {value:>16.6g} {unit:<10} n={n}")
    print("# context " + json.dumps({
        "calibration_start_s": round(calib_start, 6),
        "calibration_end_s": round(calib_end, 6),
        "host_steal_s_in_loop": round(loop_steal_s, 3),
        "setup_runs_s": [round(x, 4) for x in setup_times],
        "session_start_s": round(session_s, 4),
        "warmup_s": round(warmup_s, 4),
        "op_walls_s": {k: [round(o.wall, 4) for o in ops if o.kind == k] for k in dict.fromkeys(o.kind for o in ops)},
    }))
    for o in ops:
        for f in o.failures:
            print(f"# FAIL {o.kind} cycle {o.cycle}: {f}")
    for f in setup_failures + layer_failures:
        print(f"# FAIL {f}")

    if traced:
        print("# layers (seconds per cycle are medians over cycles; kernel.* and "
              "sketch.*.ingest_ns_per_value come from the driver-side replay of sampled splits)")
        for k in sorted(per_layer):
            print(f"  {k:<44} {per_layer[k]:>16.6g}")
        values = {m["name"]: (per_layer.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
    else:
        values = {m["name"]: (e2e[m["name"]][0], m["unit"]) for m in spec["end_to_end"]}
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
