#!/usr/bin/env python3
"""Steadiness check for perfbench: runs workloads repeatedly and reports,
for each end-to-end metric, the median, the quartiles and the spread
(inter-quartile range over the median) against the bounds in
BENCHMARK.json.

    python3 perfbench/steady.py --runs 10                     # seeds 1..10, all workloads
    python3 perfbench/steady.py --workloads tick_ingest --runs 5 --seed 3
    python3 perfbench/steady.py --runs 5 --held-out           # the held-out seed
    python3 perfbench/steady.py --runs 10 --compare first.json --out second.json

By default run i uses seed i. --seed
repeats one seed; --held-out repeats HELD_OUT_SEED, a seed kept out of
tuning so a later claim can be checked on inputs nobody tuned against.
A spread is flagged when it exceeds a third of the metric's bound
(setup_s is exempt from the spread check); with --compare, a median that
got worse than the earlier report's by more than the bound is flagged.
Exits 1 when anything is flagged or a run fails. Run from the repository
root.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

HELD_OUT_SEED = 90001


def run_once(bench, workload, seed, seconds):
    cmd = ["python3", *bench["command"][1:], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"steady: {workload} seed {seed} failed (exit {r.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=None, help="repeat this seed")
    ap.add_argument("--held-out", action="store_true", help=f"repeat seed {HELD_OUT_SEED}")
    ap.add_argument("--compare", default=None, help="an earlier --out report")
    ap.add_argument("--out", default=None, help="write the report as JSON")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    seconds = bench["run_seconds"]
    seed_of = ((lambda i: HELD_OUT_SEED) if args.held_out else
               (lambda i: args.seed) if args.seed is not None else (lambda i: i + 1))
    earlier = {}
    if args.compare:
        with open(args.compare) as f:
            earlier = json.load(f)["workloads"]
    report, flagged = {"workloads": {}}, []
    for w in names:
        values, failed = {k: [] for k in bounds}, 0
        for i in range(args.runs):
            res = run_once(bench, w, seed_of(i), seconds)
            failed += res["failed"] + (0 if res["correct"] else 1)
            for k in bounds:
                values[k].append(res["metrics"][k]["value"])
            print(f"steady: {w} run {i + 1}/{args.runs} seed {seed_of(i)} done",
                  file=sys.stderr, flush=True)
        if failed:
            flagged.append(f"{w}: {failed} failed operations")
        report["workloads"][w] = {}
        print(f"\n{w} ({args.runs} runs)")
        print(f"  {'metric':18s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}  note")
        for k, vals in values.items():
            q1, q2, q3 = stats.quartiles(vals)
            sp = stats.spread(vals)
            note = []
            if k != "setup_s" and sp > bounds[k] / 3:
                note.append("spread > bound/3")
            prev = earlier.get(w, {}).get(k)
            if prev:
                better = next(m["better"] for m in bench["end_to_end"] if m["name"] == k)
                worse = (q2 - prev["median"]) if better == "lower" else (prev["median"] - q2)
                if prev["median"] and worse / prev["median"] > bounds[k]:
                    note.append(f"worse than earlier median {prev['median']:.4f}")
            flagged += [f"{w}.{k}: {n}" for n in note]
            report["workloads"][w][k] = {"median": q2, "q1": q1, "q3": q3, "spread": sp,
                                         "bound": bounds[k], "values": vals}
            print(f"  {k:18s} {q2:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.4f} "
                  f"{bounds[k]:6.3f}  {'; '.join(note)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    if flagged:
        print("\nflagged:\n  " + "\n  ".join(flagged))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
