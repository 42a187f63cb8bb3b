#!/usr/bin/env python3
"""Alternating A/B pairs of the perfbench benchmark: parent checkout vs change.

    python3 tools/abpairs.py PARENT_DIR CHANGE_DIR --workload live-handover \
        --seeds 1001-1010 [--out pairs.json]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one after the other, and swaps
which side goes first on every pair, so drift over the session falls on both
sides alike. N is the run_seconds of CHANGE_DIR/BENCHMARK.json, the length
the benchmark itself runs. Each checkout builds and runs its own sources
(perfbench keeps its build under the checkout's .bench_build/).

It then prints, for every end-to-end metric that CHANGE_DIR/BENCHMARK.json
declares, each side's median with quartiles, the pairs the change won (ties
count for neither), the median change against the metric's bound, and
whether the gain rule holds: the change wins at least 9 of 10 pairs and the
medians differ by more than the parent's interquartile distance. Each run's
live-latency validity figures (generator.late_ms_p99,
feed.backlog_end_events) are printed when the workload reports them, as
null when it reports null. With --out, every run so far is written there
after each pair.

Exit status: 0 when every run finished with correct true and failed 0;
1 when any run was incorrect, had failed operations or did not finish.
Python standard library only.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

VALIDITY = ("generator.late_ms_p99", "feed.backlog_end_events")
ROW = re.compile(r"^(\S+)\s+(\S+)\s+\S+\s+n=\d+$")


def seeds_of(text):
    """'1001-1010' or '7,9,11' (or both, comma-separated) as a list of ints."""
    out = []
    for part in text.split(","):
        a, sep, b = part.strip().partition("-")
        out += list(range(int(a), int(b) + 1)) if sep else [int(a)]
    return out


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its result with the validity figures."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    res = {"seed": seed, "exit": p.returncode, "wall_s": round(time.time() - t0, 1)}
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        res.update(correct=False, failed=None, metrics={}, error=p.stderr[-2000:])
        return res
    rows = dict(m.groups() for m in map(ROW.match, lines) if m)
    res.update(correct=bool(out["correct"]), attempted=out["attempted"], failed=out["failed"],
               metrics={k: v["value"] for k, v in out["metrics"].items()},
               validity={k: None if rows[k] == "null" else float(rows[k])
                         for k in VALIDITY if k in rows})
    return res


def ok(run):
    return run["exit"] == 0 and run["correct"] and run["failed"] == 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(spec, pairs):
    """Per-metric summary lines; pairs is a list of (parent run, change run)."""
    lines = []
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["metrics"].get(name), c["metrics"].get(name)) for p, c in pairs]
        both = [(p, c) for p, c in both if p is not None and c is not None]
        if not both:
            lines.append(f"{name:18s} no paired values")
            continue
        pq, cq = quartiles([p for p, _ in both]), quartiles([c for _, c in both])
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        worse = delta > m["bound"] if lower else -delta > m["bound"]
        gain = wins >= 0.9 * len(both) and abs(cq[1] - pq[1]) > pq[2] - pq[0]
        lines.append(
            f"{name:18s} parent {pq[1]:.6g} ({pq[0]:.6g}-{pq[2]:.6g})  change {cq[1]:.6g} "
            f"({cq[0]:.6g}-{cq[2]:.6g})  change better in {wins} of {len(both)}  "
            f"median {delta:+.1%} (bound {m['bound']:.0%}: {'WORSE' if worse else 'ok'})  "
            f"gain rule {'met' if gain else 'not met'} (parent IQR {pq[2] - pq[0]:.4g})")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1001-1010 or 7,9")
    ap.add_argument("--out", help="write every run as JSON here")
    args = ap.parse_args()

    dirs = {side: os.path.abspath(getattr(args, side)) for side in ("parent", "change")}
    with open(os.path.join(dirs["change"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = r = run_once(dirs[side], args.workload, seed, seconds)
            v = " ".join(f"{k} {'null' if x is None else f'{x:g}'}"
                         for k, x in r.get("validity", {}).items())
            print(f"pair {i + 1} seed {seed} {side:6s} exit {r['exit']} correct {r['correct']} "
                  f"failed {r['failed']} {r['wall_s']} s  {v}  "
                  + json.dumps({k: round(x, 4) for k, x in r["metrics"].items()}), flush=True)
        pairs.append((got["parent"], got["change"]))
        if args.out:
            with open(args.out, "w") as fh:
                json.dump({"workload": args.workload, "seconds": seconds,
                           "pairs": [{"parent": p, "change": c} for p, c in pairs]}, fh, indent=1)
    print(f"# {args.workload}, {len(pairs)} pairs, --seconds {seconds:g} --trace 0, "
          f"parent {dirs['parent']} -> change {dirs['change']}")
    for line in report(spec, pairs):
        print(line)
    bad = [(side, r["seed"]) for p, c in pairs for side, r in (("parent", p), ("change", c)) if not ok(r)]
    if bad:
        print("FAILED runs (side, seed): " + ", ".join(f"{s} {n}" for s, n in bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
