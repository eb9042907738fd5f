#!/usr/bin/env python3
"""Paired end-to-end benchmark runs of two graft checkouts.

    python3 scripts/bench_pairs.py PARENT_DIR CHANGE_DIR WORKLOAD PAIRS \
        [--first-seed N]

Runs `python3 w4hbench/run.py --workload WORKLOAD --seed N --seconds S
--trace 0` in each checkout, one invocation at a time, with S the
change's BENCHMARK.json run_seconds. Pair i uses seed first_seed + i in
both checkouts; the parent goes first in even pairs and the change in
odd ones, so drift within the session falls on both sides alike.

For every end-to-end metric in the change's BENCHMARK.json it prints
each side's median and quartiles over the complete pairs, and the
fraction of ALL pairs the change wins: an incomplete pair counts as not
won, and ties count for neither side. The verdict column reads:

- gain: the change wins at least 9 in 10 pairs, the medians differ by
  more than the parent's interquartile range, and the change has no
  more failed runs and no more failed operations than the parent;
- regression: the change's median is worse than the parent's by more
  than the metric's bound;
- unresolved: no regression, but the parent's own spread (IQR / median)
  is wider than the bound, and not every change run beats every parent
  run;
- ok: none of the above.

A run that exits non-zero or reports `correct: false` or failed
operations is counted as failed and leaves its pair incomplete. Failed
runs and the summed failed-operation counts are printed per side. Every
run is listed on stderr as it finishes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "w4hbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"exit": p.returncode, "ok": False, "ops_failed": 0, "metrics": {}}
    ops_failed = result.get("failed") or 0
    ok = p.returncode == 0 and result.get("correct") is True and ops_failed == 0
    metrics = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    return {"exit": p.returncode, "ok": ok, "ops_failed": ops_failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("pairs", type=int)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    sides = {"parent": a.parent, "change": a.change}

    pairs = []
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side], a.workload, seed, seconds)
            r = pair[side]
            shown = " ".join(f"{m['name']}={r['metrics'][m['name']]:.3f}"
                             for m in bench["end_to_end"] if m["name"] in r["metrics"])
            print(f"pair {i} seed {seed} {side}: ok={r['ok']} {shown}",
                  file=sys.stderr, flush=True)
        pairs.append(pair)

    complete = [p for p in pairs if p["parent"]["ok"] and p["change"]["ok"]]
    failed = {s: sum(not p[s]["ok"] for p in pairs) for s in sides}
    ops_failed = {s: sum(p[s]["ops_failed"] for p in pairs) for s in sides}
    fails_more = (failed["change"] > failed["parent"]
                  or ops_failed["change"] > ops_failed["parent"])
    print(f"workload {a.workload}: {len(pairs)} pairs, {len(complete)} complete, "
          f"failed runs parent {failed['parent']} change {failed['change']}, "
          f"failed operations parent {ops_failed['parent']} change {ops_failed['change']}, "
          f"--seconds {seconds:g}")
    print(f"{'metric':<14}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
          f"{'delta':>9}{'wins':>8}  verdict")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        rows = [(p["parent"]["metrics"][name], p["change"]["metrics"][name])
                for p in complete
                if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not rows:
            print(f"{name:<14}  no complete pairs")
            continue
        par = sorted(r[0] for r in rows)
        chg = sorted(r[1] for r in rows)
        pq, cq = quartiles(par), quartiles(chg)
        better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
        wins = sum(better(c, p) for p, c in rows)
        iqr = pq[2] - pq[0]
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        worse = -gap
        if wins >= 0.9 * len(pairs) and gap > iqr and not fails_more:
            verdict = "gain"
        elif pq[1] and worse > m["bound"] * abs(pq[1]):
            verdict = "regression"
        elif pq[1] and iqr / abs(pq[1]) > m["bound"] and not all(
                better(c, p) for c in chg for p in par):
            verdict = "unresolved"
        else:
            verdict = "ok"
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else 0.0
        fmt = lambda q: "/".join(f"{x:.3f}" for x in q)
        print(f"{name:<14}{fmt(pq):>28}{fmt(cq):>28}{delta:>8.1f}%"
              f"{wins:>5}/{len(pairs):<2}  {verdict}")


if __name__ == "__main__":
    main()
