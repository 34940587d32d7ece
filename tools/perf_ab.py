#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, with the gain verdict.

    python3 tools/perf_ab.py --parent <checkout> --change <checkout> \\
        --workload <name> --pairs 10 --seed0 71

Pair k runs `perfbench/run.py --workload <name> --seed <seed0 + k>
--seconds <s> --trace 0` once in each checkout, each side with its own
perfbench and build; <s> is the run_seconds of the parent's BENCHMARK.json,
so both sides run as long as the benchmark sets. The side that runs first
alternates between pairs, so a drift of the host over the runs falls on both
sides alike. Nothing in either checkout is edited.

For every end-to-end metric of the parent's BENCHMARK.json it prints each
side's median and quartiles, the change's wins (ties count for neither
side), the median change against the metric's regression bound, and the
verdict. "gain": the change wins at least nine tenths of the pairs and its
median beats the parent's by more than the parent's interquartile range.
"worse than bound": the change's median is worse than the parent's by more
than the bound. "unresolved": either side's interquartile range, relative to
its median, is wider than the bound and not every change run beats every
parent run, so the runs cannot tell. "no claim": none of these.
Every run's own result line goes to stderr as it finishes. The exit status
is 1 when any run failed or reported a failed check.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns its result line as a dict, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def summarize(spec, pairs):
    """One row per end-to-end metric over the pairs where both sides ran."""
    done = [(p, c) for p, c in pairs if p and c]
    print(f"{len(done)} of {len(pairs)} pairs complete")
    print(f"{'metric':<18}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'wins':>8}{'change':>9}{'bound':>7}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p["metrics"][name]["value"] for p, _ in done if name in p["metrics"]]
        cs = [c["metrics"][name]["value"] for _, c in done if name in c["metrics"]]
        if len(ps) != len(done) or len(cs) != len(done) or not done:
            print(f"{name:<18} missing from some runs")
            continue
        wins = sum(1 for p, c in zip(ps, cs) if (c < p if lower else c > p))
        pq1, pmed, pq3 = quartiles(ps)
        cq1, cmed, cq3 = quartiles(cs)
        gap = (pmed - cmed) if lower else (cmed - pmed)
        rel = (cmed - pmed) / pmed if pmed else 0.0
        worse = -gap / pmed if pmed else 0.0
        bound = m.get("bound", float("inf"))
        spread = max((pq3 - pq1) / pmed if pmed else 0.0,
                     (cq3 - cq1) / cmed if cmed else 0.0)
        all_better = max(cs) < min(ps) if lower else min(cs) > max(ps)
        if wins >= 0.9 * len(done) and gap > pq3 - pq1:
            verdict = "gain"
        elif worse > bound:
            verdict = "worse than bound"
        elif spread > bound and not all_better:
            verdict = "unresolved"
        else:
            verdict = "no claim"
        print(f"{name:<18}{pq1:>10.4g}{pmed:>10.4g}{pq3:>10.4g}{cq1:>10.4g}{cmed:>10.4g}{cq3:>10.4g}"
              f"{wins:>5}/{len(done):<2}{rel:>+9.1%}{m.get('bound', ''):>7}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True, help="pair k runs seed seed0 + k")
    args = ap.parse_args()
    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    with open(os.path.join(parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]

    pairs, bad = [], 0
    for k in range(args.pairs):
        seed = args.seed0 + k
        order = [("parent", parent), ("change", change)]
        if k % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            res = run_once(checkout, args.workload, seed, seconds)
            ok = bool(res and res.get("correct") and res.get("failed", 1) == 0)
            bad += not ok
            got[side] = res if ok else None
            print(json.dumps({"pair": k, "seed": seed, "side": side, "ok": ok,
                              "result": res}), file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))

    print(f"workload {args.workload}, seeds {args.seed0}-{args.seed0 + args.pairs - 1}, "
          f"--seconds {seconds:g} --trace 0, {bad} failed runs")
    summarize(spec, pairs)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
