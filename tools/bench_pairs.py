#!/usr/bin/env python3
"""Alternated parent/change benchmark pairs, summarized per metric.

Runs `perfbench/run.py` untraced in two checkouts, one pair per seed, the
same seed on both sides, alternating which side goes first (even pairs:
parent first). For every end-to-end metric of BENCHMARK.json it prints the
median and quartiles (Q1, Q3) of each side, the parent's spread (IQR /
median), the change in %, how many pairs the change wins and a verdict,
plus failed/attempted ops per side. Verdicts, first match wins:

  worse       the change median is worse than the parent median by more
              than the metric's `bound` in BENCHMARK.json;
  unresolved  the parent's IQR / median exceeds the bound, and not every
              change run beats every parent run;
  gain        the change wins at least 90% of the pairs and the median gap
              exceeds the parent's IQR;
  flat        none of the above.

Exits 1 if any metric is `worse` or the change failed more ops than the
parent.

With `--kinds`, it also prints each operation kind's median and quartile
times per side, over every timed op of that kind in all runs of the side.
The times come from the `[perfbench] cycle <c> <kind> <ms> ms` lines of
the run's `perfbench/work/<workload>/jvm-stderr.log`, read right after the
run, so the table shows which kinds of operation moved.

Usage:
  python3 tools/bench_pairs.py <parent-checkout> <change-checkout> \\
      --workload component_jobs --seeds 501-510 [--seconds 20] [--log runs.jsonl] \\
      [--kinds]

Each checkout builds what it runs from its own sources (the first run of a
checkout compiles). `--log` appends one JSON line per run (side, seed and the
run's result line) so a summary can be checked later.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys


def quartiles(xs):
    """Q1 and Q3 by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        pos = p * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)
    return q(0.25), q(0.75)


def spread(xs):
    """Median, Q1 and Q3 of `xs`; NaN for each when `xs` is empty."""
    if not xs:
        return (float("nan"),) * 3
    return (statistics.median(xs), *quartiles(xs))


def verdict(pv, cv, higher, bound):
    """The verdict of one metric from its paired parent/change values."""
    pm, cm = statistics.median(pv), statistics.median(cv)
    q1, q3 = quartiles(pv)
    loss = (pm - cm) if higher else (cm - pm)  # > 0: the change is worse
    if loss > bound * abs(pm):
        return "worse"
    beats_all = min(cv) > max(pv) if higher else max(cv) < min(pv)
    if (q3 - q1) > bound * abs(pm) and not beats_all:
        return "unresolved"
    wins = sum((c > p) if higher else (c < p) for p, c in zip(pv, cv))
    if wins >= 0.9 * len(pv) and -loss > q3 - q1:
        return "gain"
    return "flat"


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        tail = "\n".join((p.stdout + p.stderr).splitlines()[-20:])
        sys.exit(f"run failed in {checkout} (seed {seed}, exit {p.returncode}):\n{tail}")
    return json.loads(lines[-1])


CYCLE_LINE = re.compile(r"^\[perfbench\] cycle \d+ (\S+) ([0-9.]+) ms$")


def kind_times(checkout, workload):
    """Per-kind op times (ms) of the last run in `checkout`, from its log."""
    times = {}
    log = os.path.join(checkout, "perfbench", "work", workload, "jvm-stderr.log")
    with open(log) as f:
        for line in f:
            m = CYCLE_LINE.match(line.strip())
            if m:
                times.setdefault(m.group(1), []).append(float(m.group(2)))
    return times


def parse_seeds(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 501-510")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--log")
    ap.add_argument("--kinds", action="store_true",
                    help="also print per-operation-kind medians per side")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": a.parent, "change": a.change}
    results = {"parent": [], "change": []}
    kinds = {"parent": {}, "change": {}}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds)
            results[side].append(r)
            rec = {"side": side, "seed": seed, "workload": a.workload, "result": r}
            if a.kinds:
                rec["kinds"] = kind_times(sides[side], a.workload)
                for k, ms in rec["kinds"].items():
                    kinds[side].setdefault(k, []).extend(ms)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"[pairs] seed {seed} {side}: " + " ".join(
                f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics),
                file=sys.stderr, flush=True)

    n = len(results["parent"])
    print(f"{a.workload}: {n} alternated pairs, seeds {a.seeds}")
    print(f"{'metric':<16}{'parent':>10}{'p Q1':>10}{'p Q3':>10}"
          f"{'change':>10}{'c Q1':>10}{'c Q3':>10}{'delta':>9}"
          f"{'parent IQR/med':>16}{'wins':>8}  verdict")
    worse = False
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pv = [r["metrics"][name]["value"] for r in results["parent"]]
        cv = [r["metrics"][name]["value"] for r in results["change"]]
        pm, q1, q3 = spread(pv)
        cm, cq1, cq3 = spread(cv)
        wins = sum((c > p) if higher else (c < p) for p, c in zip(pv, cv))
        v = verdict(pv, cv, higher, m["bound"])
        worse |= v == "worse"
        print(f"{name:<16}{pm:>10.4g}{q1:>10.4g}{q3:>10.4g}"
              f"{cm:>10.4g}{cq1:>10.4g}{cq3:>10.4g}{100 * (cm / pm - 1):>+8.1f}%"
              f"{(q3 - q1) / pm:>16.3f}{wins:>5}/{n}  {v}")
    if a.kinds:
        print(f"{'kind':<22}{'parent ms':>10}{'p Q1':>9}{'p Q3':>9}"
              f"{'change ms':>10}{'c Q1':>9}{'c Q3':>9}{'delta':>9}{'n':>10}")
        for k in sorted(set(kinds["parent"]) | set(kinds["change"])):
            pk, ck = kinds["parent"].get(k, []), kinds["change"].get(k, [])
            pm, q1, q3 = spread(pk)
            cm, cq1, cq3 = spread(ck)
            delta = f"{100 * (cm / pm - 1):>+8.1f}%" if pk and ck else f"{'':>9}"
            print(f"{k:<22}{pm:>10.1f}{q1:>9.1f}{q3:>9.1f}"
                  f"{cm:>10.1f}{cq1:>9.1f}{cq3:>9.1f}{delta}{len(pk):>5}/{len(ck)}")
    failed = {}
    for side in ("parent", "change"):
        att = sum(r["attempted"] for r in results[side])
        failed[side] = sum(r["failed"] for r in results[side])
        print(f"{side}: {failed[side]} of {att} ops failed")
    if worse or failed["change"] > failed["parent"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
