#!/usr/bin/env python3
"""Alternating A/B of perfbench between two checkouts, and its verdict.

Usage:
  python3 tools/perf_ab.py <parent_dir> <change_dir> --workload W --first-seed S --pairs N
      [--seconds T] [--trace 0|1] [--log FILE]
  python3 tools/perf_ab.py --summarize FILE

Each checkout is a full tree (e.g. `git archive <rev> | tar -x -C <dir>`);
perfbench builds into its own `.bench_build/`. Pair i runs seed S+i on both
sides with `python3 perfbench/run.py --workload W --seed S+i --seconds T
--trace 0`, T being BENCHMARK.json's run_seconds unless given; even pairs run
the parent first, odd pairs the change. Every result line is appended to the
log (default perf_ab_<W>.jsonl) as it arrives, and perfbench's progress to
<log>.err. --summarize re-derives the numbers from a saved log.

Per metric of the run (BENCHMARK.json's end_to_end ones for --trace 0) it
prints each side's median and Q1-Q3 (inclusive quartiles), the parent's IQR
as a share of its median, the change's wins (ties count for neither), the
per-pair values and a verdict:
  gain          the change wins >= 9/10 of the pairs and the medians differ
                by more than the parent's Q3 - Q1;
  regression    the change's median is worse than the parent's by more than
                the metric's bound (a share of the parent's median);
  unresolved    neither, and the parent's IQR is wider than the bound, unless
                every change run is better than every parent run;
  within bound  otherwise.
Metrics without a bound (per-layer ones) get a verdict of gain or nothing.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(side_dir, workload, seed, seconds, trace, err):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def run(a):
    bench = spec()
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    log = a.log or f"perf_ab_{a.workload}.jsonl"
    sides = {"parent": os.path.abspath(a.parent_dir), "change": os.path.abspath(a.change_dir)}
    with open(log, "a") as out, open(log + ".err", "a") as err:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_one(sides[side], a.workload, seed, seconds, a.trace, err)
                rec = {"workload": a.workload, "pair": i, "seed": seed, "side": side,
                       "first": side == order[0], "seconds": seconds, "trace": a.trace,
                       "result": res}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                vals = {k: v["value"] for k, v in res.get("metrics", {}).items()}
                print(f"pair {i} seed {seed} {side}: correct {res.get('correct')} "
                      f"failed {res.get('failed')} {vals}", flush=True)
    return summarize(log)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change, pairs, better, bound):
    lower = better == "lower"
    p_q1, p_med, p_q3 = quartiles(parent)
    _, c_med, _ = quartiles(change)
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    gap = (p_med - c_med) if lower else (c_med - p_med)
    if wins * 10 >= 9 * len(pairs) and gap > p_q3 - p_q1:
        return "gain", wins
    if bound is None:
        return "", wins
    if -gap > bound * p_med:
        return "regression", wins
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if (p_q3 - p_q1) > bound * p_med and not all_better:
        return "unresolved", wins
    return "within bound", wins


def summarize(log):
    bench = spec()
    bounds = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    recs = [json.loads(ln) for ln in open(log) if ln.strip()]
    for workload in sorted({r["workload"] for r in recs}):
        rows = [r for r in recs if r["workload"] == workload]
        by_pair = {}
        for r in rows:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r
        done = [p for p in sorted(by_pair) if {"parent", "change"} <= set(by_pair[p])]
        print(f"== {workload}: {len(done)} complete pairs, seeds "
              f"{', '.join(str(by_pair[p]['parent']['seed']) for p in done)}")
        for side in ("parent", "change"):
            runs = [by_pair[p][side]["result"] for p in done]
            bad = sum(1 for r in runs if not r.get("correct") or r.get("failed"))
            failed = sum(r.get("failed", 0) for r in runs)
            attempted = sum(r.get("attempted", 0) for r in runs)
            print(f"  {side}: {bad} of {len(runs)} runs not correct, "
                  f"failed {failed} of {attempted} attempted")
        names = sorted({k for p in done for s in ("parent", "change")
                        for k in by_pair[p][s]["result"].get("metrics", {})})
        for name in names:
            pairs = []
            for p in done:
                m = [by_pair[p][s]["result"].get("metrics", {}).get(name) for s in ("parent", "change")]
                if m[0] is not None and m[1] is not None:
                    pairs.append((m[0]["value"], m[1]["value"]))
            if not pairs:
                continue
            parent = [p for p, _ in pairs]
            change = [c for _, c in pairs]
            m = bounds.get(name, {})
            v, wins = verdict(parent, change, pairs, m.get("better", "lower"), m.get("bound"))
            p_q1, p_med, p_q3 = quartiles(parent)
            c_q1, c_med, c_q3 = quartiles(change)
            iqr = 100.0 * (p_q3 - p_q1) / p_med if p_med else float("nan")
            delta = 100.0 * (c_med - p_med) / p_med if p_med else float("nan")
            print(f"  {name} ({m.get('better', '?')} is better): parent median {p_med:.5g} "
                  f"(Q1-Q3 {p_q1:.5g}-{p_q3:.5g}, IQR {iqr:.1f} %) -> change {c_med:.5g} "
                  f"(Q1-Q3 {c_q1:.5g}-{c_q3:.5g}), {delta:+.1f} %, change better in "
                  f"{wins}/{len(pairs)}" + (f": {v}" if v else ""))
            print(f"    parent {' '.join(f'{x:.5g}' for x in parent)}")
            print(f"    change {' '.join(f'{x:.5g}' for x in change)}")
    return 0


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir", nargs="?")
    ap.add_argument("change_dir", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--first-seed", type=int)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log")
    ap.add_argument("--summarize", metavar="LOG")
    a = ap.parse_args(argv)
    if a.summarize:
        return summarize(a.summarize)
    if not (a.parent_dir and a.change_dir and a.workload and a.first_seed is not None):
        ap.error("give <parent_dir> <change_dir> --workload --first-seed, or --summarize LOG")
    return run(a)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
