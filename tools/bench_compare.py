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

Exits 2 with a one-line reason on a missing argument, an unreadable
record, a record with no rows, or two records that share no row.

Each record's run conditions (`loadavg_start`, `cpus`, `heap_mb`, `env`,
`contended`) print first; a row listed in either record's
`contended_rows` is starred, since its ratio may be load, not code.
"""
import json
import math
import sys


CONDITIONS = ("loadavg_start", "cpus", "heap_mb", "env", "contended")


def fail(msg):
    print(f"bench_compare: {msg}", file=sys.stderr)
    sys.exit(2)


def load(path):
    """({row name: seconds}, the record's fields) of one record, either
    shape; exit 2 when it has no rows."""
    try:
        rec = json.load(open(path))
    except OSError as e:
        fail(f"cannot read {path}: {e.strerror}")
    except ValueError:
        fail(f"{path} is not JSON")
    if not isinstance(rec, dict):
        fail(f"{path} is not a bench record")
    if rec.get("queries") is None:
        rec = rec.get("parsed") or {}
    queries = rec.get("queries")
    if queries is None:
        fail(f"{path}: no 'queries' (top level or under 'parsed')")
    if not queries:
        fail(f"{path}: 'queries' holds no rows")
    return ({k: v["med"] if isinstance(v, dict) else v
             for k, v in queries.items()}, rec)


def geomean(ratios):
    if not ratios:
        return "n/a"
    return f"{math.exp(sum(math.log(r) for r in ratios) / len(ratios)):.3f}"


def main() -> None:
    paths = [a for a in sys.argv[1:] if a != "--md"]
    if len(paths) != 2:
        fail("usage: bench_compare.py <before.json> <after.json> [--md]")
    (before, brec), (after, arec) = load(paths[0]), load(paths[1])
    md = "--md" in sys.argv
    contended = (set(brec.get("contended_rows") or ())
                 | set(arec.get("contended_rows") or ()))
    rows = [(k + ("*" if k in contended else ""), before[k], after[k],
             after[k] / before[k])
            for k in sorted(before)
            if k in after and before[k] and after[k] is not None]
    if not rows:
        fail(f"{paths[0]} and {paths[1]} share no row with a before value")
    for side, path, rec in (("before", paths[0], brec),
                            ("after", paths[1], arec)):
        cond = " ".join(f"{c}={rec.get(c, 'n/a')}" for c in CONDITIONS)
        print(f"{side:6s} {path}: {cond}")
    print(f"* = contended in either record ({len(contended)} rows)\n")
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
