#!/usr/bin/env python3
"""Steadiness check: do two sets of same-code runs agree?

    python3 perfbench/steady.py
    python3 perfbench/steady.py --smoke
    python3 perfbench/steady.py --repeat

For each workload, runs ``perfbench/run.py`` ten times in each of two
sets, every run a fresh process with its own seed (set A: seeds 1..10,
set B: 101..110) and BENCHMARK.json's ``run_seconds``. For every
end-to-end metric it prints each set's median and quartiles and the
spread (quartile distance over median), then whether the sets agree
with the bounds in BENCHMARK.json: every spread is within its bound, the
two medians differ by no more than the bound, and both sets fail the
same share of operations. A ``setup_s`` spread beyond its bound is
reported as UNRESOLVED: the bound cannot then resolve a change of that
size. It also prints each run's wall time and host steal share, and the
wall time of all runs together. Exits 0 when everything agrees.

``--smoke`` instead runs all workloads once on tiny inputs in one
process, which checks the harness end to end in well under a minute.
``--repeat`` runs each workload twice on one seed, traced and untraced,
and lists which metrics repeat exactly between the two same-code runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
SET_SEEDS = (1, 101)
RUNS = 10


def run_once(
    workload: str, seed: int, seconds: int, extra: tuple[str, ...] = (), trace: int = 0
) -> tuple[dict, dict]:
    """(result line, standard-error summary) of one run."""
    cmd = [
        sys.executable, RUN, "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), *extra,
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    summary = [line for line in proc.stderr.splitlines() if line.startswith('{"workload"')]
    summary = json.loads(summary[-1]) if summary else {}
    summary["wall_s"] = wall
    return json.loads(lines[-1]), summary


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(bench: dict, sets: list[list[dict]]) -> tuple[bool, list[str]]:
    """Report lines for one workload's two sets, and whether they agree."""
    shares = [sum(r["failed"] for r in s) / max(1, sum(r["attempted"] for r in s)) for s in sets]
    ok = shares[0] == shares[1]
    lines = [f"  failed share per set: {shares}"]
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        stats = []
        for s in sets:
            q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in s])
            stats.append((q1, med, q3, (q3 - q1) / med if med else float("inf")))
        spread_ok = all(sp <= bound for *_, sp in stats)
        a, b = stats[0][1], stats[1][1]
        change = (b - a) / a
        median_ok = abs(change) <= bound
        ok &= spread_ok and median_ok
        cells = "  ".join(
            f"set{i}: {med:.4g} [{q1:.4g}, {q3:.4g}] spread {sp:.3f}"
            for i, (q1, med, q3, sp) in enumerate(stats)
        )
        if not spread_ok:
            flag = "UNRESOLVED" if name == "setup_s" else "DISAGREE (spread)"
        else:
            flag = "ok" if median_ok else "DISAGREE (medians)"
        lines.append(
            f"  {name:<16} {m['unit']:<8} {cells}  B vs A {change:+.3f} (bound {bound}) {flag}"
        )
    return ok, lines


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description="two-set steadiness check")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--repeat", action="store_true")
    args = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]

    if args.smoke:
        res, _ = run_once("all", 1, 1, ("--smoke",))
        print(json.dumps(res))
        return 0 if res["correct"] else 1
    if args.repeat:
        for w in workloads:
            for trace in (0, 1):
                (a, sa), (b, sb) = (run_once(w, 1, bench["run_seconds"], trace=trace) for _ in range(2))
                a, b = a["metrics"], b["metrics"]
                # a layer the workload does not exercise reads 0 both times
                same = sorted(k for k in a if a[k]["value"] == b[k]["value"] != 0)
                differ = sorted(k for k in a if a[k]["value"] != b[k]["value"])
                ops = [round(statistics.median(s["op_times"]), 3) for s in (sa, sb)]
                steal = [round(s["host_steal_share"], 3) for s in (sa, sb)]
                print(f"{w} trace={trace} op median s: {ops}, host steal share: {steal}")
                print(f"{w} trace={trace} repeat exactly: {', '.join(same) or '-'}")
                print(f"{w} trace={trace} differ: {', '.join(differ) or '-'}")
                print(f"{w} trace={trace} values: {json.dumps({k: a[k]['value'] for k in a})}", flush=True)
        return 0

    all_ok = True
    walls: list[float] = []
    for w in workloads:
        sets = []
        for base in SET_SEEDS:
            runs = []
            for i in range(RUNS):
                r, summary = run_once(w, base + i, bench["run_seconds"])
                runs.append(r)
                walls.append(summary["wall_s"])
                vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
                print(f"{w} seed {base + i}: correct={r['correct']} "
                      f"{r['failed']}/{r['attempted']} failed {vals} "
                      f"wall {summary['wall_s']:.1f}s steal {summary.get('host_steal_share', 0):.3f}", flush=True)
            sets.append(runs)
        ok, lines = compare(bench, sets)
        all_ok &= ok
        print(f"{w}: {'agree' if ok else 'DISAGREE'}")
        print("\n".join(lines), flush=True)
    print(f"{len(walls)} runs, {sum(walls):.0f}s in all, {statistics.mean(walls):.1f}s each on average")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
