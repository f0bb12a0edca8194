#!/usr/bin/env python3
"""Benchmark of the live CDC topology and the batch operators.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--cores C]

Run from the repository root. Builds the program from source when needed
(perfbench/build.py), runs one workload in one JVM (perfbench.Main),
checks its outputs and prints, as the last line of standard output, one
JSON object {"correct", "attempted", "failed", "metrics"}: every
end-to-end metric of BENCHMARK.json with --trace 0, every per-layer
metric with --trace 1 (0 for a layer the workload does not exercise).
The line before it carries the run's detail (gates, sample counts, and
for a traced run its end-to-end figures). See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["live", "churn", "batch_ops", "live_hi"]
DEADLINE_S = 170
def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def oracle_gates(sf_dir, out_dir):
    """Compare each dumped batch_ops result with its DuckDB oracle the way
    tools/check_local.py does: columns sorted by name, rows sorted, exact
    equality. Returns {query: (ok, detail)}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet/*.parquet')")
    res = {}
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            res[name] = (False, "no output")
            continue
        try:
            s = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            o = con.sql(sql).df()
        except Exception as e:  # an oracle or read error fails the gate
            res[name] = (False, str(e)[:200])
            continue
        cols = sorted(s.columns)
        if cols != sorted(o.columns):
            res[name] = (False, f"columns {cols} vs {sorted(o.columns)}")
            continue
        kinds = [c for c in cols if s[c].dtype.kind != o[c].dtype.kind]
        if kinds or len(s) != len(o):
            res[name] = (False, f"dtype kinds differ on {kinds} or rows {len(s)} vs {len(o)}")
            continue
        s = s[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        o = o[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        bad = None
        for c in cols:
            for i, (a, b) in enumerate(zip(s[c].tolist(), o[c].tolist())):
                try:
                    if pd.isna(a) and pd.isna(b):
                        continue
                except (TypeError, ValueError):
                    pass
                if a != b:
                    bad = f"{c}[{i}]: {a!r} vs {b!r}"
                    break
            if bad:
                break
        res[name] = (bad is None, bad or "")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="local[N] cores (default: the machine's, at most 4)")
    a = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except OSError:
        die("BENCHMARK.json not found: run from the repository root")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not here: run from the repository root")
    jar, archive = build.ensure_built(root)

    work = os.path.join(root, ".bench_build", "perfbench", f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = build.java_cmd(jar, work, ["-Xshare:on", f"-XX:SharedArchiveFile={archive}"],
                         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--cores", str(a.cores), "--work", work,
                          "--out", out])
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(DEADLINE_S - (time.time() - start), 10))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{a.workload} did not finish within {DEADLINE_S} s")
        if rc != 0 or not os.path.exists(out):
            die(f"{a.workload} failed (exit {rc})")
        with open(out) as fh:
            r = json.load(fh)
        if a.workload == "batch_ops":
            sf = sorted(glob.glob(os.path.join(work, "sf-*")))[-1]
            try:
                checks = oracle_gates(sf, os.path.join(work, "ops-out"))
            except ImportError as e:
                checks = {"oracle": (False, f"duckdb unavailable: {e}")}
            for q, (ok, detail) in checks.items():
                r["gates"][f"oracle_{q}"] = ok
                if not ok:
                    r["failed"] += 1
                    r["notes"].append(f"oracle {q}: {detail}")
            r["correct"] = r["correct"] and all(ok for ok, _ in checks.values())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind, source = ("per_layer", r["layer"]) if a.trace else ("end_to_end", r["e2e"])
    metrics = {}
    for m in bench[kind]:
        v = source.get(m["name"], 0.0 if a.trace else None)
        if v is None:
            die(f"{a.workload} measured no {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    unknown = set(source) - {m["name"] for m in bench[kind]}
    if unknown:
        die(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    detail = {k: r[k] for k in ("gates", "info", "notes")}
    if a.trace:
        detail["e2e"] = r["e2e"]
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
