#!/usr/bin/env python3
"""Alternating A/B pairs of the serving benchmark between two checkouts.

    python3 tools/ab_pairs.py <parent-checkout> <change-checkout> \\
        --workload serve --seeds 51-60 [--seconds 10] [--trace 0]

For every seed in the range it runs `python3 perfbench/run.py` once in
each checkout (each from its own root, so each builds its own source),
the parent first on even seeds and the change first on odd ones, so
neither side always runs on the box the other one just warmed.

Per metric of the result line it prints the median [q1, q3] of each
side, how many pairs the change won (the `better` direction comes from
the change checkout's BENCHMARK.json), and whether the gap between the
medians exceeds the parent's inter-quartile range: `yes` when the change
is better by more than it, `WORSE` when it is worse by more, `no`
otherwise; `n/a` with fewer than 4 pairs, whose quartiles are no spread. Then one line per run: seed, side, order, loadavg_start and
the run's end-to-end metrics (those BENCHMARK.json lists), so every pair
can be recorded.

Exits 2 on an empty seed range, on a run that prints no result line,
and on a result that reads `correct: false`; before a failed run exits,
the lines of every run completed so far are printed and the failed run
is named.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


# quartiles of fewer runs than this are no measure of spread
MIN_SPREAD_PAIRS = 4


def fail(msg):
    print(f"ab_pairs: {msg}", file=sys.stderr)
    sys.exit(2)


class RunFailed(Exception):
    """A run with no result line or with `correct: false`."""


def seeds_of(spec):
    """'51-60' → [51..60]; '7' → [7]. Empty or malformed → exit 2."""
    try:
        if "-" in spec:
            lo, hi = (int(x) for x in spec.split("-", 1))
            seeds = list(range(lo, hi + 1))
        else:
            seeds = [int(spec)]
    except ValueError:
        fail(f"--seeds must be N or A-B, got {spec!r}")
    if not seeds:
        fail(f"--seeds {spec} is an empty range")
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    """(result dict, loadavg_start) of one perfbench run in `checkout`."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith('{"correct"'):
        raise RunFailed(f"no result line (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if not result.get("correct", False):
        raise RunFailed(f"correct: false ({result.get('failed')} of "
                        f"{result.get('attempted')} operations failed)")
    load = None
    for l in lines:
        if l.startswith('{"env"'):
            load = json.loads(l)["env"].get("loadavg_start")
    return result, load


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0], s[0], s[0]
    q = statistics.quantiles(s, n=4, method="inclusive")
    return q[0], q[1], q[2]


def benchmark_spec(checkout):
    """({metric: 'lower'|'higher'}, [end-to-end metric names]) from a
    checkout's BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}, []
    spec = json.load(open(path))
    e2e = spec.get("end_to_end", [])
    return ({m["name"]: m["better"] for m in e2e + spec.get("per_layer", [])},
            [m["name"] for m in e2e])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    seeds = seeds_of(a.seeds)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for name, path in sides.items():
        if not os.path.exists(os.path.join(path, "perfbench", "run.py")):
            fail(f"{name} checkout {path} has no perfbench/run.py")

    better, e2e = benchmark_spec(sides["change"])
    runs = []  # (seed, side, order, {metric: value}, loadavg)
    for seed in seeds:
        order = ["parent", "change"] if seed % 2 == 0 else ["change", "parent"]
        for i, side in enumerate(order):
            try:
                result, load = run_once(sides[side], a.workload, seed,
                                        a.seconds, a.trace)
            except RunFailed as e:
                print_runs(runs, e2e)
                fail(f"seed {seed} {side} ({i + 1} of 2, {sides[side]}): {e}")
            values = {k: v["value"] for k, v in result["metrics"].items()}
            runs.append((seed, side, i + 1, values, load))
            print(f"ab_pairs: seed {seed} {side} ({i + 1} of 2) loadavg_start "
                  f"{load}", file=sys.stderr)

    by = {(s, side): m for s, side, _, m, _ in runs}
    names = sorted({k for _, _, _, m, _ in runs for k in m})
    print(f"{a.workload}: {len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}, "
          f"--seconds {a.seconds:g} --trace {a.trace}")
    print(f"{'metric':34} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} "
          f"{'won':>6} {'gap>IQR':>8}")
    for name in names:
        pairs = [(by[(s, 'parent')].get(name), by[(s, 'change')].get(name))
                 for s in seeds]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        p1, pm, p3 = quartiles([p for p, _ in pairs])
        c1, cm, c3 = quartiles([c for _, c in pairs])
        d = better.get(name)
        if d in ("lower", "higher"):
            sign = -1 if d == "lower" else 1
            won = f"{sum(1 for p, c in pairs if sign * (c - p) > 0)}/{len(pairs)}"
            gap = sign * (cm - pm)
            if len(pairs) < MIN_SPREAD_PAIRS:
                verdict = "n/a"
            else:
                verdict = "yes" if gap > p3 - p1 else ("WORSE" if -gap > p3 - p1 else "no")
        else:
            won, verdict = "n/a", "n/a"
        print(f"{name:34} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>30} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>30} {won:>6} {verdict:>8}")
    print_runs(runs, e2e)


def print_runs(runs, e2e):
    """One line per run: seed, side, order, loadavg_start, end-to-end values."""
    print(f"runs (seed side order loadavg_start {' '.join(e2e)}):")
    for seed, side, order, m, load in runs:
        vals = " ".join(f"{m[n]:.4g}" if n in m else "-" for n in e2e)
        print(f"  {seed} {side} {order} {load} {vals}")


if __name__ == "__main__":
    main()
