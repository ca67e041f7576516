"""Compare two sets of saved runs (parent vs change), per workload and per
end-to-end metric:

- each side's median and quartiles;
- the share of pairs the change wins (runs paired by seed, else by order;
  ties count for neither side);
- a verdict: `gain` when the change wins at least nine tenths of the pairs
  and the medians differ by more than the parent's quartile spread;
  `regression` when the change's median is worse than the parent's by
  more than the metric's bound; `unresolved` when the parent's own spread
  is wider than the bound, unless every change run beats every parent run;
  else `no change`.  No `gain` is given while the change's runs failed
  more operations, or were judged incorrect more often, than the
  parent's; it reads `gain withheld` and the failures are printed.

Run files are the JSON objects `perfbench/run.py` saves under
`<build dir>/runs/`; only untraced runs are compared.
"""
import json
import statistics
from pathlib import Path


def load(d):
    runs = {}
    for f in sorted(Path(d).glob("*.json")):
        r = json.loads(f.read_text())
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def failures(runs):
    """Failed operations and runs judged incorrect, summed over `runs`."""
    return (sum(r["failed"] for r in runs),
            sum(1 for r in runs if not r["correct"]))


def verdict(parent, change, better, bound):
    """Verdict and the share of pairs won by the change."""
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = wins / len(pairs) if pairs else 0.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    if pm != 0 and (p3 - p1) / abs(pm) > bound:
        if all(sign * (c - p) > 0 for c in change for p in parent):
            return "gain", share
        return "unresolved", share
    if share >= 0.9 and sign * (cm - pm) > (p3 - p1):
        return "gain", share
    if sign * (cm - pm) < -bound * abs(pm):
        return "regression", share
    return "no change", share


def main(spec, parent_dir, change_dir):
    parent, change = load(parent_dir), load(change_dir)
    for w in [w["name"] for w in spec["workloads"]]:
        if w not in parent or w not in change:
            print(f"{w}: missing runs (parent {len(parent.get(w, []))}, "
                  f"change {len(change.get(w, []))})")
            continue
        ps = {r["seed"]: r for r in parent[w]}
        cs = {r["seed"]: r for r in change[w]}
        common = sorted(set(ps) & set(cs))
        if common:
            pr, cr = [ps[s] for s in common], [cs[s] for s in common]
        else:
            pr, cr = parent[w], change[w]
        print(f"{w}: {len(pr)} parent runs, {len(cr)} change runs"
              f"{' paired by seed' if common else ''}")
        pf, cf = failures(pr), failures(cr)
        worse = cf[0] > pf[0] or cf[1] > pf[1]
        if worse:
            print(f"  WARNING: the change failed {cf[0]} operations in {cf[1]} "
                  f"incorrect runs, the parent {pf[0]} in {pf[1]}; no gain "
                  f"is given")
        for m in spec["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in pr]
            cv = [r["metrics"][m["name"]]["value"] for r in cr]
            v, share = verdict(pv, cv, m["better"], m["bound"])
            if v == "gain" and worse:
                v = "gain withheld: more failures"
            pq, cq = quartiles(pv), quartiles(cv)
            print(f"  {m['name']:<14} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
                  f"  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] {m['unit']}"
                  f"  won {share:.0%}  {v}")
