#!/usr/bin/env python3
"""Runs alternating parent/change pairs of one benchmark workload and tells,
for every end-to-end metric in BENCHMARK.json, whether the change stays
within the metric's bound.

Usage (standard library only):
    python3 tools/perf_pairs.py --parent DIR --change DIR --workload W --pairs N [--seed S]
        [--claim METRIC]

DIR is the root of a checkout. Pair i runs
`python3 perfbench/run.py --workload W --seed S+i --seconds 10 --trace 0`
in both checkouts, the parent first in even pairs and the change first in
odd ones, and reads the JSON object on each run's last line of stdout. Per
metric it prints the parent's median and quartile distance, the change's
median and its relative move, the pairs the change won (ties count for
neither side) and one verdict:
  within bound  the change's median is no worse than the parent's by more
                than the bound;
  worse         it is worse by more than the bound;
  unresolved    the parent's quartile distance is wider than the bound, so
                the runs cannot tell, unless every change run beats every
                parent run.
It flags every pair whose sink_files or sink_bytes differ (both are
deterministic per seed) and every run with failed > 0 or no result.

With --claim METRIC it also tells whether a gain in that end-to-end metric
can be claimed. It prints `claim met` only when both hold: the change won at
least 9 of every 10 pairs (ties count for neither side), and the medians
differ in the metric's better direction by more than the parent's quartile
distance. Otherwise it prints `claim not met` and which test failed.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def last_json(stdout):
    """The JSON object on the last non-empty line of `stdout`, or None."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def run_once(checkout, workload, seed):
    """One benchmark run in `checkout`; its result object, or None."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    result = last_json(proc.stdout) if proc.returncode == 0 else None
    if result is None:
        print(f"{checkout}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
    return result


def quartile_distance(xs):
    """Upper minus lower quartile (inclusive method); 0 for fewer than 2."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def beats(a, b, better):
    """Whether value `a` is strictly better than `b`."""
    return a < b if better == "lower" else a > b


def relative_move(parent, change):
    """(change - parent) / parent; 0 when both are 0."""
    if parent == 0:
        return 0.0 if change == 0 else math.copysign(math.inf, change)
    return (change - parent) / abs(parent)


def summarize(parent, change, better, bound):
    """Verdict for one metric from paired values (`parent[i]` and
    `change[i]` ran with the same seed)."""
    p_med, c_med = statistics.median(parent), statistics.median(change)
    iqr = quartile_distance(parent)
    move = relative_move(p_med, c_med)
    worse_by = move if better == "lower" else -move
    spread = relative_move(p_med, p_med + iqr)
    if all(beats(c, p, better) for c in change for p in parent):
        verdict = "within bound"
    elif spread > bound:
        verdict = "unresolved"
    elif worse_by > bound:
        verdict = "worse"
    else:
        verdict = "within bound"
    return {"parent_median": p_med, "parent_iqr": iqr, "change_median": c_med,
            "move": move, "wins": sum(beats(c, p, better) for p, c in zip(parent, change)),
            "pairs": len(parent), "verdict": verdict}


def claim(parent, change, better):
    """(met, reason) for claiming a gain from paired values: at least 9 of
    every 10 pairs won, and the medians apart in the better direction by
    more than the parent's quartile distance."""
    wins = sum(beats(c, p, better) for p, c in zip(parent, change))
    gain = statistics.median(parent) - statistics.median(change)
    if better != "lower":
        gain = -gain
    iqr = quartile_distance(parent)
    failed = []
    if wins * 10 < 9 * len(parent):
        failed.append(f"won {wins}/{len(parent)} pairs, needs 9 of every 10")
    if gain <= iqr:
        failed.append(f"median gain {gain:.4g} is not above the parent's quartile distance {iqr:.4g}")
    return not failed, "; ".join(failed)


def value(result, name):
    return result["metrics"][name]["value"]


def flags(pairs):
    """Messages for failed runs and for pairs whose sink output differs."""
    out = []
    for i, (p, c) in enumerate(pairs):
        for side, r in (("parent", p), ("change", c)):
            if r is None:
                out.append(f"pair {i}: {side} run gave no result")
            elif r.get("failed", 0) > 0:
                out.append(f"pair {i}: {side} run failed {r['failed']} of {r['attempted']} jobs")
        if p is not None and c is not None:
            for name in ("sink_files", "sink_bytes"):
                if value(p, name) != value(c, name):
                    out.append(f"pair {i}: {name} differ: parent {value(p, name)}, "
                               f"change {value(c, name)}")
    return out


def report(pairs, end_to_end, claimed=None):
    """The report lines for the complete pairs of `pairs`, with the claim
    line for the metric named `claimed`, if any."""
    done = [(p, c) for p, c in pairs if p is not None and c is not None]
    lines = [f"{'metric':<20} {'parent median':>14} {'parent IQR':>11} "
             f"{'change median':>14} {'move':>8} {'won':>6}  verdict"]
    for m in end_to_end if done else []:
        s = summarize([value(p, m["name"]) for p, _ in done],
                      [value(c, m["name"]) for _, c in done], m["better"], m["bound"])
        lines.append(f"{m['name']:<20} {s['parent_median']:>14.4g} {s['parent_iqr']:>11.4g} "
                     f"{s['change_median']:>14.4g} {s['move']:>+8.1%} "
                     f"{s['wins']:>3}/{s['pairs']:<2}  {s['verdict']}")
    for m in end_to_end if done else []:
        if m["name"] == claimed:
            met, why = claim([value(p, claimed) for p, _ in done],
                             [value(c, claimed) for _, c in done], m["better"])
            lines.append(f"{claimed}: claim met" if met else f"{claimed}: claim not met: {why}")
    return lines + flags(pairs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--claim", metavar="METRIC")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    if a.claim is not None and a.claim not in [m["name"] for m in end_to_end]:
        ap.error(f"--claim {a.claim} is not an end-to-end metric")

    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(getattr(a, side), a.workload, seed)
            r = got[side]
            print(f"pair {i} seed {seed} {side}: " +
                  (" ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                   + f" failed={r['failed']}" if r else "no result"),
                  file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))
    print(f"workload {a.workload}, {a.pairs} pairs, seeds {a.seed}..{a.seed + a.pairs - 1}")
    print("\n".join(report(pairs, end_to_end, a.claim)))


if __name__ == "__main__":
    main()
