#!/usr/bin/env python3
"""Compare two sets of benchmark runs metric by metric against the
bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py FIRST.jsonl SECOND.jsonl

Both files are written by `record.py runs`. For every workload and
end-to-end metric it checks, as the acceptance rule does, that each
set's spread (distance between the first and third quartile over the
median) stays within the metric's bound and that the second median is
not worse than the first by more than the bound. Like that rule, it
holds setup_s to the median check only: set-up time includes JVM start
and JIT warm-up, which vary with the host more than any measured
window does. It
prints each metric with its figures, then the unresolved ones by name,
and exits 1 when any is unresolved. Run from the repository root.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as fh:
        rows = [json.loads(x) for x in fh if x.strip()]
    return [r for r in rows if "result" in r and not r["trace"]]


def values(rows, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in rows if r["workload"] == workload]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    first, second = load(sys.argv[1]), load(sys.argv[2])
    unresolved = []
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a, b = values(first, w, name), values(second, w, name)
            if len(a) < 2 or len(b) < 2:
                unresolved.append(f"{w}/{name}: fewer than two runs in a set")
                continue
            qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
            sa, sb = (qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1]
            worse = (qb[1] - qa[1]) / qa[1] * (1 if m["better"] == "lower" else -1)
            problems = []
            if name != "setup_s" and max(sa, sb) > bound:
                problems.append(f"spread {max(sa, sb):.3f} > {bound}")
            if worse > bound:
                problems.append(f"second median worse by {worse:.3f} > {bound}")
            print(f"{w:10s} {name:16s} median {qa[1]:11.3f} -> {qb[1]:11.3f}  "
                  f"spread {sa:.3f}/{sb:.3f}  worse {worse:+.3f}  bound {bound}"
                  + ("  UNRESOLVED" if problems else ""))
            if problems:
                unresolved.append(f"{w}/{name}: " + "; ".join(problems))
    if unresolved:
        print("unresolved:")
        for u in unresolved:
            print("  " + u)
        sys.exit(1)
    print("all metrics resolved")


if __name__ == "__main__":
    main()
