#!/usr/bin/env python3
"""Per-request-kind medians of a traced perfbench run's span record.

    python3 tools/spans.py <spans.jsonl>

The record is `.bench_build/records/<workload>-seed<N>-spans.jsonl`,
written by `perfbench/run.py ... --trace 1`: an `env` line, then one
span per line (id, name, parent, start_ns, end_ns, counts). For each
request kind (`request.raw|sq8|pq|bq|single`, then any other
`request.*` span) it prints the number of requests and the medians of
their total, plan and exec milliseconds (wall time of the request span
and of its `serving.plan` / `serving.exec` children), plus the exec
span's Spark counters: jobs, tasks, shuffle bytes, layout files scanned
and CPU milliseconds.

Exits 2 on a missing or empty file, a line that is not JSON, and a
record with no spans.
"""
import json
import statistics
import sys

KINDS = ["request.raw", "request.sq8", "request.pq", "request.bq",
         "request.single"]
COUNTERS = [("jobs", "jobs", 1), ("tasks", "tasks", 1),
            ("shuffle_B", "shuffle_bytes", 1), ("scan_files", "scan_files", 1),
            ("cpu_ms", "cpu_ns", 1e-6)]


def fail(msg):
    print(f"spans: {msg}", file=sys.stderr)
    sys.exit(2)


def load(path):
    """The span dicts of a record; exit 2 when there are none."""
    try:
        text = open(path).read()
    except OSError as e:
        fail(f"cannot read {path}: {e.strerror}")
    spans = []
    for n, line in enumerate(text.splitlines(), 1):
        if not line.strip():
            continue
        try:
            row = json.loads(line)
        except ValueError:
            fail(f"{path}:{n} is not JSON")
        if isinstance(row, dict) and "id" in row and "name" in row:
            spans.append(row)
    if not text.strip():
        fail(f"{path} is empty")
    if not spans:
        fail(f"{path} holds no spans (was the run traced?)")
    return spans


def ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def median(xs):
    return statistics.median(xs) if xs else None


def main():
    if len(sys.argv) != 2:
        fail("usage: spans.py <spans.jsonl>")
    spans = load(sys.argv[1])
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    requests = {}
    for s in spans:
        if s["name"].startswith("request."):
            requests.setdefault(s["name"], []).append(s)
    kinds = [k for k in KINDS if k in requests] + \
        sorted(k for k in requests if k not in KINDS)
    if not kinds:
        fail(f"{sys.argv[1]} holds no request spans")

    cols = ["n", "total_ms", "plan_ms", "exec_ms"] + [c for c, _, _ in COUNTERS]
    print(f"{'kind':16}" + "".join(f"{c:>12}" for c in cols))
    for kind in kinds:
        total, plan, exe = [], [], []
        counts = {c: [] for c, _, _ in COUNTERS}
        for r in requests[kind]:
            total.append(ms(r))
            kids = children.get(r["id"], [])
            plan += [ms(c) for c in kids if c["name"] == "serving.plan"]
            for c in kids:
                if c["name"] == "serving.exec":
                    exe.append(ms(c))
                    for name, key, scale in COUNTERS:
                        counts[name].append(c.get("counts", {}).get(key, 0.0) * scale)
        vals = [len(requests[kind]), median(total), median(plan), median(exe)] + \
            [median(counts[c]) for c, _, _ in COUNTERS]
        print(f"{kind:16}" + "".join(
            f"{'-':>12}" if v is None else f"{v:>12.6g}" for v in vals))


if __name__ == "__main__":
    main()
