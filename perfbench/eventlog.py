"""Spark event log -> stage-level layer metrics.

The traced run starts Spark with ``spark.eventLog.enabled`` (through
``PYSPARK_SUBMIT_ARGS``, so the library's ``get_spark`` is unchanged) and
this parser reads the JSON-lines log after the session stops. Only tasks
launched inside the measured window count, so set-up and warm-up jobs are
left out.
"""

from __future__ import annotations

import json
from pathlib import Path


def spark_metrics(log_dir: Path, t0_ms: float, t1_ms: float, cycles: int) -> dict[str, float]:
    """Task totals per measured cycle."""
    tasks = 0
    run_ms = 0.0
    cpu_ns = 0.0
    shuffle_write = 0
    spill = 0
    # Spark 4 writes a rolling log: a directory of event files per app
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev.get("Task Info", {}).get("Launch Time", 0)
                if not (t0_ms <= launch <= t1_ms):
                    continue
                m = ev.get("Task Metrics") or {}
                tasks += 1
                run_ms += m.get("Executor Run Time", 0)
                cpu_ns += m.get("Executor CPU Time", 0)
                shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    run_s = run_ms / 1000.0
    cpu_s = cpu_ns / 1e9
    per = max(cycles, 1)
    return {
        "spark.tasks": tasks / per,
        "spark.executor_run_s": run_s / per,
        "spark.executor_cpu_s": cpu_s / per,
        "spark.cpu_over_run": cpu_s / run_s if run_s else 0.0,
        "spark.shuffle_write_bytes": shuffle_write / per,
        "spark.spill_bytes": spill / per,
    }
