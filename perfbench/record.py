#!/usr/bin/env python3
"""Run the benchmark repeatedly and keep every result line.

    python3 perfbench/record.py runs OUT.jsonl [--seeds 1-10] [--workloads live,churn]
    python3 perfbench/record.py trace OUT.json --untraced RUNS.jsonl [--seed 1]

`runs` appends one JSON object per run ({"workload", "seed", "trace",
"result", "detail"}) to OUT.jsonl and prints each end-to-end metric's
median and quartile spread per workload; steadiness.py compares two such
files. `trace` makes the traced pass of every workload, plus live_hi
(the feed at 15,000 events/s) and a single-core live run, and writes the per-layer
artifact: every per-layer metric, each workload's bottleneck layer and
the tracing overhead against the untraced medians in RUNS.jsonl.
Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def run_once(workload, seed, trace, seconds, cores=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "trace": trace, "error": p.returncode}
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def summarize(rows, b):
    out = {}
    for w in [x["name"] for x in b["workloads"]]:
        ok = [r for r in rows if r["workload"] == w and "result" in r and not r["trace"]]
        if len(ok) < 2:
            continue
        out[w] = {}
        for m in b["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in ok]
            med, sp = spread(vals)
            out[w][m["name"]] = {"median": med, "iqr_share": sp, "bound": m["bound"], "n": len(vals)}
    return out


def cmd_runs(a):
    b = bench()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    rows = []
    with open(a.out, "a") as fh:
        for seed in range(lo, hi + 1):
            for w in workloads:
                r = run_once(w, seed, 0, b["run_seconds"])
                rows.append(r)
                fh.write(json.dumps(r) + "\n")
                fh.flush()
                res = r.get("result", {})
                print(w, seed, "error" if "error" in r else
                      {k: round(v["value"], 3) for k, v in res["metrics"].items()},
                      "" if res.get("correct", False) else "INCORRECT", flush=True)
    for w, ms in summarize(rows, b).items():
        for m, s in ms.items():
            print(f"{w:10s} {m:16s} median {s['median']:12.3f}  IQR/median {s['iqr_share']:.3f}"
                  f"  (bound {s['bound']})")


def bottleneck(workload, layer, e2e):
    """The layer with the largest measured time per unit of the
    workload's work, with the figures it was chosen from."""
    if workload == "batch_ops":
        ops = {k: v for k, v in layer.items() if k.startswith("ops.")}
        k = max(ops, key=ops.get)
        return {"layer": "ops", "why": f"{k} = {ops[k]:.3f} s is the slowest listed query",
                "figures": ops}
    if workload == "churn":
        f = {k: layer[k] for k in ("dim.apply_ms_p50", "sinks.append_ms_p50", "sinks.read_ms_p50",
                                   "sinks.mv_maintain_ms_p50", "sinks.mv_read_ms_p50")}
        k = max(f, key=f.get)
        return {"layer": k.split(".")[0], "why": f"{k} = {f[k]:.0f} ms is the largest share of a round",
                "figures": f}
    # live: per million wire events, each topology query decodes and
    # enriches the wire once, and the warehouse query also appends; the
    # part of the drain's measured cost that these cuts leave unexplained
    # is the streaming engine's: the stateful rollup, top-k and counter
    # operators, per-batch planning and commits, and the four queries
    # contending for the cores
    passes = layer["cdc.decode_passes"]
    f = {"cdc": layer["cdc.unwrap_ms_per_mev"] * passes,
         "enrich": layer["enrich.ms_per_mev"] * passes,
         "sinks": layer["sinks.append_ms_per_mev"]}
    drain = 1e9 / e2e["events_per_s"]
    f["streaming"] = max(drain - sum(f.values()), 0.0)
    k = max(f, key=f.get)
    return {"layer": k, "why": f"{k} costs {f[k]:.0f} of the drain's {drain:.0f} ms per million "
            f"events ({passes:.0f} topology queries; streaming is what the prefix cuts leave "
            f"unexplained: stateful operators, per-batch work, contention)", "figures": f}


def cmd_trace(a):
    b = bench()
    untraced = {}
    with open(a.untraced) as fh:
        rows = [json.loads(x) for x in fh if x.strip()]
    for w, ms in summarize(rows, b).items():
        untraced[w] = {m: s["median"] for m, s in ms.items()}
    art = {"seed": a.seed, "run_seconds": b["run_seconds"], "workloads": {}}
    for w in [x["name"] for x in b["workloads"]] + ["live_hi"]:
        r = run_once(w, a.seed, 1, b["run_seconds"])
        if "error" in r:
            art["workloads"][w] = {"error": r["error"]}
            continue
        layer = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        e2e = r["detail"]["e2e"]
        entry = {"correct": r["result"]["correct"], "per_layer": layer,
                 "traced_end_to_end": e2e, "info": r["detail"]["info"]}
        if w in untraced:
            entry["bottleneck"] = bottleneck(w, layer, e2e)
            entry["tracing_overhead"] = {m: e2e[m] - untraced[w][m] for m in untraced[w]}
        if w.startswith("live"):
            info = r["detail"]["info"]
            entry["fresh_p90_limit_10s_met"] = bool(info.get("fresh_limit_met"))
        art["workloads"][w] = entry
    # the single-threaded baseline; one second of feed keeps it inside
    # run.py's deadline, and only its drain figure is reported
    one = run_once("live", a.seed, 1, 1, cores=1)
    art["single_core_live_events_per_s"] = (one["detail"]["e2e"]["events_per_s"]
                                            if "detail" in one else None)
    with open(a.out, "w") as fh:
        json.dump(art, fh, indent=2, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads")
    t = sub.add_parser("trace")
    t.add_argument("out")
    t.add_argument("--untraced", required=True)
    t.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    cmd_runs(a) if a.cmd == "runs" else cmd_trace(a)


if __name__ == "__main__":
    main()
