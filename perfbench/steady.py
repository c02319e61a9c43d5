"""Steadiness check: run one workload N times with different seeds and print
each end-to-end metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py --workload search --runs 10 --seed0 100 \\
        --save .perfbench/search-a.json
    python3 perfbench/steady.py --workload search --runs 10 --seed0 200 \\
        --save .perfbench/search-b.json --compare .perfbench/search-a.json

Spread is (q3 - q1) / median with ``statistics.quantiles(values, n=4)``.
``--compare`` also checks that this set's medians are not worse than the
other set's by more than each metric's bound.  ``--trace 1`` runs traced
and, with ``--compare`` naming an untraced set, prints the tracing overhead
(traced minus untraced medians of the end-to-end metrics).
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
#: reported by a run's ``perfbench:`` line; printed without a bound
INFO_METRICS = ("insert_p50_ms", "fresh_ms", "rows_per_s", "error_rate")


def cpu_times() -> list[int] | None:
    """The host's aggregate CPU counters (Linux), to tell host contention
    (steal) apart from the program when a run is slow."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after) -> float | None:
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    c0 = cpu_times()
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed (seed {seed}):\n{p.stderr[-3000:]}")
    info = next((json.loads(x[len("perfbench: "):]) for x in lines
                 if x.startswith("perfbench: ")), {})
    out = json.loads(lines[-1])
    out.update(seed=seed, info=info, wall_s=time.perf_counter() - t,
               steal=steal_share(c0, cpu_times()))
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def series(runs: list[dict], name: str) -> list[float]:
    vals = []
    for r in runs:
        if name in r["metrics"]:
            vals.append(r["metrics"][name]["value"])
        elif r["info"].get(name) is not None:
            vals.append(float(r["info"][name]))
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="write the raw results here")
    ap.add_argument("--compare", help="a results file saved by an earlier call")
    args = ap.parse_args(argv)

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    runs = []
    for i in range(args.runs):
        r = run_once(args.workload, args.seed0 + i, bench["run_seconds"], args.trace)
        runs.append(r)
        steal = "" if r["steal"] is None else f" host-steal={100 * r['steal']:.0f}%"
        print(f"seed {r['seed']}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={r['wall_s']:.1f}s{steal}", flush=True)
    if args.save:
        os.makedirs(os.path.dirname(os.path.abspath(args.save)), exist_ok=True)
        json.dump(runs, open(args.save, "w"))
    other = json.load(open(args.compare)) if args.compare else None

    ok = all(r["correct"] for r in runs)
    names = list(e2e) + list(INFO_METRICS) if not args.trace else list(runs[0]["metrics"])
    print(f"\n{args.workload}: {len(runs)} runs, wall median "
          f"{statistics.median(r['wall_s'] for r in runs):.1f}s")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for name in names:
        vals = series(runs, name)
        if len(vals) < 2:
            continue
        med, q1, q3, spread = summary(vals)
        m = e2e.get(name) if not args.trace else None
        line = f"{name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f}"
        if m:
            line += f" {m['bound']:6.3f}"
            line += "  ok" if spread <= m["bound"] / 3 else (
                "  within bound" if spread <= m["bound"] else "  TOO NOISY")
            ok &= spread <= m["bound"]
            if other:
                prev = statistics.median(series(other, name))
                worse = (med - prev) / prev if m["better"] == "lower" else (prev - med) / prev
                line += f"  vs {prev:.4f}: {'+' if worse >= 0 else ''}{worse:.3f} worse"
                if worse > m["bound"]:
                    line += " EXCEEDS BOUND"
                    ok = False
        print(line)
    if args.trace and other:
        print("\ntracing overhead (traced - untraced medians):")
        for name in e2e:
            traced = [r["info"]["end_to_end"][name] for r in runs]
            base = series(other, name)
            d = statistics.median(traced) - statistics.median(base)
            print(f"{name:34} {d:+12.4f} {e2e[name]['unit']}")
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
