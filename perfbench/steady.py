#!/usr/bin/env python3
"""Steadiness check: run each workload in two separate batches of seeded
runs and report, per workload and end-to-end metric, the median, the
quartiles, the spread (inter-quartile distance over the median) and whether
the two batches agree within the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads write_mix] [--trace]

Batches agree on a metric when each batch's spread is within the bound and
the second median is not worse than the first by more than the bound. The
spread of setup_s, one cold start per run, is reported but not held to its
bound; its medians still are. With --trace every seed also gets a traced run, and the
tracing overhead (traced over untraced p50_gmean_ms) is reported.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402


def one_run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode})")
    lines = p.stdout.strip().splitlines()
    summary, record = json.loads(lines[-1]), json.loads(lines[-2])
    summary["p50_gmean_ms_traced"] = record.get("p50_gmean_ms_traced")
    return summary


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": measure.spread(values), "values": values}


def verdict(metric, first, second):
    bound = metric["bound"]
    worse = (second["median"] / first["median"] - 1.0) if metric["better"] == "lower" \
        else (1.0 - second["median"] / first["median"])
    spread_ok = metric["name"] == "setup_s" or max(first["spread"], second["spread"]) <= bound
    return {"bound": bound, "second_worse_by": worse, "spread_ok": spread_ok,
            "agree": spread_ok and worse <= bound,
            "steady": max(first["spread"], second["spread"]) < bound / 3}


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        cfg = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10, help="runs per batch")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seconds", type=float, default=cfg["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=os.path.join(HERE, "out", "steady.json"))
    args = ap.parse_args()
    report = {}
    for w in args.workloads.split(","):
        batches, traced = [], []
        for b in range(2):
            runs = []
            for k in range(args.runs):
                seed = 1000 * (b + 1) + k
                runs.append(one_run(w, seed, args.seconds, 0))
                if args.trace:
                    traced.append(one_run(w, seed, args.seconds, 1))
                print(f"{w} batch {b + 1} seed {seed}: "
                      + json.dumps({k2: round(v["value"], 4) for k2, v in runs[-1]["metrics"].items()}),
                      file=sys.stderr, flush=True)
            batches.append(runs)
        rep = {}
        for m in cfg["end_to_end"]:
            first, second = (summarize([r["metrics"][m["name"]]["value"] for r in runs])
                             for runs in batches)
            rep[m["name"]] = {"first": first, "second": second, **verdict(m, first, second)}
        if traced:
            untraced = statistics.median(r["metrics"]["p50_gmean_ms"]["value"] for runs in batches for r in runs)
            rep["trace_overhead"] = statistics.median(r["p50_gmean_ms_traced"] for r in traced) / untraced - 1.0
        rep["failed_ops"] = sum(r["failed"] for runs in batches for r in runs)
        rep["all_correct"] = all(r["correct"] for runs in batches for r in runs)
        report[w] = rep
        print(f"\n{w}", file=sys.stderr)
        for m in cfg["end_to_end"]:
            x = rep[m["name"]]
            print(f"  {m['name']:16s} median {x['first']['median']:10.4f} / {x['second']['median']:10.4f}"
                  f"  spread {x['first']['spread']:.3f} / {x['second']['spread']:.3f}"
                  f"  bound {m['bound']}  {'agree' if x['agree'] else 'DISAGREE'}"
                  f"{'' if x['steady'] else ' (spread above a third of the bound)'}", file=sys.stderr)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({w: {m: r[m]["agree"] for m in r if isinstance(r[m], dict)}
                      for w, r in report.items()}))


if __name__ == "__main__":
    main()
