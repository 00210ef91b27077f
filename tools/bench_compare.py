#!/usr/bin/env python3
"""Compare two bench JSON records row by row.

Usage: bench_compare.py <before.json> <after.json> [--md]
Prints per-row before/after/ratio (sorted by name), geomeans, and the
shared totals. --md emits the markdown appendix table.

Reads both record shapes: a plain `graft.Bench` record (`queries` at the
top level, as in BENCH_LOCAL.json) and a wrapped record (`queries` nested
under `parsed`, as in BENCH_r18.json). A row
value is seconds, or a {min, med, max} triplet whose `med` is used. Rows
whose before value is 0 (or missing) have no ratio and are skipped.

Each record's run conditions (`loadavg_start`, `cpus`, `heap_mb`, `env`,
`contended`) print first; a row listed in either record's
`contended_rows` is starred, since its ratio may be load, not code.
"""
import json
import math
import sys


CONDITIONS = ("loadavg_start", "cpus", "heap_mb", "env", "contended")


def load(path):
    """({row name: seconds}, the record's fields) of one record, either
    shape."""
    rec = json.load(open(path))
    if rec.get("queries") is None:
        rec = rec.get("parsed") or {}
    queries = rec.get("queries")
    if queries is None:
        sys.exit(f"{path}: no 'queries' (top level or under 'parsed')")
    return ({k: v["med"] if isinstance(v, dict) else v
             for k, v in queries.items()}, rec)


def geomean(ratios):
    if not ratios:
        return "n/a"
    return f"{math.exp(sum(math.log(r) for r in ratios) / len(ratios)):.3f}"


def main() -> None:
    (before, brec), (after, arec) = load(sys.argv[1]), load(sys.argv[2])
    md = "--md" in sys.argv
    for side, path, rec in (("before", sys.argv[1], brec),
                            ("after", sys.argv[2], arec)):
        cond = " ".join(f"{c}={rec.get(c, 'n/a')}" for c in CONDITIONS)
        print(f"{side:6s} {path}: {cond}")
    contended = (set(brec.get("contended_rows") or ())
                 | set(arec.get("contended_rows") or ()))
    print(f"* = contended in either record ({len(contended)} rows)\n")
    rows = [(k + ("*" if k in contended else ""), before[k], after[k],
             after[k] / before[k])
            for k in sorted(before)
            if k in after and before[k] and after[k] is not None]
    if md:
        print("| query | before s | after s | ratio |")
        print("|---|---|---|---|")
        for k, b, a, r in rows:
            print(f"| {k} | {b:.2f} | {a:.2f} | {r:.2f} |")
    else:
        for k, b, a, r in rows:
            print(f"{k:31s} {b:7.2f} {a:7.2f} {r:6.2f}")
    # a zero after-value has ratio 0, which has no log: geomeans skip it
    big = [r[3] for r in rows if r[1] >= 1.0 and r[3] > 0]
    tb = sum(r[1] for r in rows)
    ta = sum(r[2] for r in rows)
    total = f"({ta / tb:.3f}x)" if tb else "(n/a)"
    print(f"\nshared rows n={len(rows)} total {tb:.1f} -> {ta:.1f} "
          f"{total}  geomean {geomean([r[3] for r in rows if r[3] > 0])}  "
          f"geomean(before>=1s, n={len(big)}) {geomean(big)}")


if __name__ == "__main__":
    main()
