#!/usr/bin/env python3
"""Interleaved parent/change pairs of one perfbench workload, summarised.

Usage:
    python3 scripts/perf_pairs.py --parent DIR --change DIR \\
        --workload dashboard --seeds 71-80 [--trace 0|1] [--json OUT]
    python3 scripts/perf_pairs.py --merge A.json B.json ... [--json OUT]

For each seed it runs the benchmark's own command (`command` in the
change's BENCHMARK.json, with `--workload W --seed S --seconds N --trace T`
appended, N being its `run_seconds` and T this script's `--trace`, 0 by
default) once in each checkout (DIR is a repository root, e.g. a `git
archive` of the parent commit), alternating
which side runs first: the first seed runs the parent first, the next the
change first, and so on. Every run's exit code and its `correct` and
`failed` fields are printed as it finishes. A run succeeds when it exits 0
with `"correct": true` and `"failed": 0`.

Then, for every end-to-end metric, it prints each side's median and
quartiles over the complete pairs (both runs succeeded), the parent's
interquartile range, how many of ALL pairs run the change won (a pair
with a failed run counts against the change; ties count for neither), the
ratio of the medians (change / parent), and two verdicts, with `better`
and `bound` taken from the change's BENCHMARK.json:

- gain: yes when the change won at least nine tenths of the pairs, its
  median is better than the parent's by more than the parent's IQR, and
  no change run failed more than its parent twin;
- bound: `unresolved` when the parent's IQR exceeds `bound` times its
  median (the runs spread too widely to tell), unless every change run
  beats every parent run; otherwise `ok` when the change's median is no
  worse than the parent's by more than `bound` of the parent's median,
  else `WORSE`.

With `--trace 1` the runs report BENCHMARK.json's `per_layer` metrics
(counts such as `exec.tasks`, layer times), which are summarised the same
way — medians, quartiles, parent IQR, wins and ratio — but carry no
verdicts: they have no bound, and a gain is claimed only on an end-to-end
metric. Their gain and bound columns read `-`.

With `--merge` it runs nothing: it reads the runs of several `--json`
files (e.g. the seeds measured while building plus a fresh-seed set) and
summarises them as one set of pairs, with the same verdicts, taking
`better` and `bound` from this repository's BENCHMARK.json. It refuses
files whose workload or trace mode differ, and a seed that appears twice.

The exit code is 1 when any run failed. The script reads perfbench/ and
BENCHMARK.json and changes neither.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """`71-80` or `1,3,5` or a mix (`1-3,9`) → a list of ints."""
    seeds = []
    for part in text.split(","):
        lo, sep, hi = part.strip().partition("-")
        seeds.extend(range(int(lo), int(hi) + 1) if sep else [int(lo)])
    return seeds


def quartiles(values):
    """(q1, median, q3), interpolated between the closest ranks."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def ok(code, result):
    return (code == 0 and result is not None and result.get("correct")
            and result.get("failed") == 0)


def failures(code, result):
    """How badly a run failed: its failed operations, or infinity when it
    exited non-zero, printed no result or was not correct."""
    if code != 0 or result is None or not result.get("correct"):
        return float("inf")
    return result.get("failed") or 0


def summarize(pairs, spec, verdicts=True):
    """Per-metric summary of `pairs`, one (parent, change) pair of runs per
    seed, each run an (exit code, result JSON or None). `spec` maps a
    metric name to its BENCHMARK.json entry. Without `verdicts` (per-layer
    metrics) every row's gain and bound are None."""
    complete = [(p[1]["metrics"], c[1]["metrics"]) for p, c in pairs
                if ok(*p) and ok(*c)]
    failed_more = sum(1 for p, c in pairs if failures(*c) > failures(*p))
    out = []
    for name, entry in spec.items():
        both = [(p[name]["value"], c[name]["value"]) for p, c in complete
                if name in p and name in c]
        if not both:
            continue
        lower = entry["better"] == "lower"
        beats = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
        par = [p for p, _ in both]
        chg = [c for _, c in both]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        iqr = pq3 - pq1
        wins = sum(1 for p, c in both if beats(c, p))
        gain_by = (pmed - cmed) if lower else (cmed - pmed)
        worse_by = -gain_by / pmed if pmed else 0.0
        separated = (len(both) == len(pairs)
                     and all(beats(c, p) for c in chg for p in par))
        if not verdicts:
            bound = None
        elif separated:
            bound = "ok"
        elif pmed and iqr / abs(pmed) > entry["bound"]:
            bound = "unresolved"
        else:
            bound = "ok" if worse_by <= entry["bound"] else "WORSE"
        out.append({
            "metric": name,
            "pairs": len(pairs),
            "complete": len(both),
            "parent": {"q1": pq1, "median": pmed, "q3": pq3},
            "change": {"q1": cq1, "median": cmed, "q3": cq3},
            "parent_iqr": iqr,
            "wins": wins,
            "ratio": cmed / pmed if pmed else None,
            "failed_more": failed_more,
            "gain": (wins * 10 >= 9 * len(pairs) and gain_by > iqr
                     and failed_more == 0) if verdicts else None,
            "bound": bound,
        })
    return out


def merge(docs):
    """The runs of several `--json` outputs as one set → (workload, trace,
    runs, pairs). Raises ValueError when the files' workloads or trace
    modes differ, a seed appears twice, or a seed lacks one side's run."""
    for key in ("workload", "trace"):
        values = {d.get(key, 0) for d in docs}
        if len(values) > 1:
            raise ValueError(f"the files differ in {key}: {sorted(map(str, values))}")
    runs, pairs, seen = [], [], set()
    for doc in docs:
        sides = {}
        for r in doc["runs"]:
            got = sides.setdefault(r["seed"], {})
            if r["seed"] in seen or r["side"] in got:
                raise ValueError(f"seed {r['seed']} appears twice")
            got[r["side"]] = (r["exit"], r["result"])
        for seed, got in sides.items():
            if set(got) != {"parent", "change"}:
                raise ValueError(f"seed {seed} lacks a parent or change run")
            pairs.append((got["parent"], got["change"]))
        seen.update(sides)
        runs.extend(doc["runs"])
    return docs[0]["workload"], docs[0].get("trace", 0), runs, pairs


def run_once(root, command, workload, seed, seconds, trace=0):
    """One benchmark run in checkout `root` → (exit code, result or None)."""
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return proc.returncode, result


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def report(rows):
    head = ("metric", "complete", "parent median [q1-q3]",
            "change median [q1-q3]", "parent IQR", "wins", "ratio",
            "gain", "bound")
    table = [head]
    for r in rows:
        p, c = r["parent"], r["change"]
        table.append((
            r["metric"], f"{r['complete']}/{r['pairs']}",
            f"{fmt(p['median'])} [{fmt(p['q1'])}-{fmt(p['q3'])}]",
            f"{fmt(c['median'])} [{fmt(c['q1'])}-{fmt(c['q3'])}]",
            fmt(r["parent_iqr"]), f"{r['wins']}/{r['pairs']}",
            "-" if r["ratio"] is None else f"{r['ratio']:.3f}",
            {True: "yes", False: "no", None: "-"}[r["gain"]],
            r["bound"] or "-"))
    widths = [max(len(row[i]) for row in table) for i in range(len(head))]
    return "\n".join("  ".join(cell.ljust(w) for cell, w in zip(row, widths))
                     for row in table)


def run_pairs(a, bench):
    """Runs every seed of `a.seeds` once per side, alternating which side
    goes first → (runs, pairs)."""
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    runs, pairs = [], []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            code, result = run_once(sides[side], bench["command"], a.workload,
                                    seed, bench["run_seconds"], a.trace)
            got[side] = (code, result)
            runs.append({"seed": seed, "side": side, "first": order[0],
                         "exit": code, "result": result})
            print(f"seed {seed} {side}: exit {code}, correct "
                  f"{result and result.get('correct')}, failed "
                  f"{result and result.get('failed')}", flush=True)
        pairs.append((got["parent"], got["change"]))
    return runs, pairs



def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="parent checkout root")
    ap.add_argument("--change", help="change checkout root")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 71-80 or 1,3,5")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: per-layer metrics, summarised without verdicts")
    ap.add_argument("--merge", nargs="+", metavar="JSON",
                    help="summarise these --json outputs instead of running")
    ap.add_argument("--json", help="also write every run and the summary here")
    a = ap.parse_args()

    if a.merge:
        docs = []
        for path in a.merge:
            with open(path) as fh:
                docs.append(json.load(fh))
        try:
            workload, trace, runs, pairs = merge(docs)
        except ValueError as e:
            ap.error(str(e))
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    else:
        if not (a.parent and a.change and a.workload and a.seeds):
            ap.error("--parent, --change, --workload and --seeds are "
                     "required unless --merge is given")
        workload, trace, root = a.workload, a.trace, a.change

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    section = "per_layer" if trace else "end_to_end"
    spec = {m["name"]: m for m in bench[section]}
    if not a.merge:
        runs, pairs = run_pairs(a, bench)

    rows = summarize(pairs, spec, verdicts=not trace)
    bad = [r for r in runs if not ok(r["exit"], r["result"])]
    print(f"\n{workload}: {len(pairs)} pairs run, {len(bad)} runs failed")
    print(report(rows))
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": workload, "trace": trace, "runs": runs,
                       "summary": rows}, fh, indent=1)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
