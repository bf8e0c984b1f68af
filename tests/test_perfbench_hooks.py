"""The benchmark's traced run measures each layer by wrapping program
names: ``runner.batch_bounds``, ``runner.write_snapshots``,
``writer.deltas_to_rows``, each runner's ``run_batch`` and mirror
``write``/``read_previous``/``prune``, and the sink's
``advance_offsets``. Per-layer metrics carry no bound, so a refactor
that renames or inlines one of these would drop a layer without notice.
This runs the benchmark's smoke ``ivm`` workload traced and checks that
it passes and that the runner, delta-collect and mirror-write layers
still count jobs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_traced_ivm_smoke_reports_every_layer():
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", "ivm",
        "--seed", "1", "--seconds", "1", "--smoke", "--trace", "1",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, out
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    for name in ("runner.epoch_jobs", "delta.collect_jobs", "mirror.write_jobs"):
        assert metrics[name] > 0, (name, metrics)
