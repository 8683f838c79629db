"""Compare two sets of benchmark results, or summarize one.

    python3 perfbench/compare.py BASE_DIR NEW_DIR
    python3 perfbench/compare.py DIR

A result set is a directory of the JSON files `run.py` writes to
`.bench_build/results/` (`<workload>-s<seed>-t<trace>.json`); copy that
directory aside after running each side.

For every workload x end-to-end metric of BENCHMARK.json (untraced files) it
prints each side's median and quartiles, their spread (quartile distance
over median), the pair wins (runs paired by seed, ties count for neither)
and the verdict against the metric's bound:

- `worse`      the new median is worse than the base median by more than the
               bound;
- `unresolved` the base's own spread is wider than the bound and not every
               new run beats every base run;
- `ok`         otherwise.

From the traced files it compares the deterministic counters seed by seed
and flags every rise, whatever the clocks say. With one directory it prints
the medians, quartiles and spreads, and flags any counter that differs
between two traced runs of the same seed.
"""
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")

# Per-layer counters that repeat exactly for a given seed and data.
COUNTERS = ("model.setup_jobs", "spark.jobs", "spark.stages", "spark.tasks",
            "plan.exchanges", "plan.single_partition_exchanges",
            "plan.broadcasts", "plan.non_codegen_nodes",
            "exec.rows_examined_per_answer")


def load(directory):
    """{(workload, trace): {seed: [result, ...]}}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        m = re.match(r"(.+)-s(-?\d+)-t([01])(?:\..*)?\.json$",
                     os.path.basename(path))
        if not m:
            continue
        with open(path) as fh:
            res = json.load(fh)
        key = (m.group(1), int(m.group(3)))
        out.setdefault(key, {}).setdefault(int(m.group(2)), []).append(res)
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def e2e_values(runs, name):
    return {seed: statistics.median(r["e2e"][name] for r in rs)
            for seed, rs in runs.items()}


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def summarize(sets, spec):
    for w in spec["workloads"]:
        runs = sets.get((w["name"], 0), {})
        print(f"\n{w['name']}  ({len(runs)} untraced runs)")
        for m in spec["end_to_end"] if runs else []:
            vals = list(e2e_values(runs, m["name"]).values())
            q = quartiles(vals)
            spread = (q[2] - q[0]) / q[1] if q[1] else float("nan")
            flag = "" if spread <= m["bound"] / 3 else "  (spread > bound/3)"
            print(f"  {m['name']:<18} {fmt(q):<34} spread {spread:.3f} "
                  f"bound {m['bound']}{flag}")
        traced = sets.get((w["name"], 1), {})
        for seed, rs in traced.items():
            for c in COUNTERS:
                seen = {r["layers"].get(c) for r in rs}
                if len(seen) > 1:
                    print(f"  counter {c} differs between runs of seed {seed}: "
                          f"{sorted(seen)}")


def compare(base, new, spec):
    for w in spec["workloads"]:
        b_runs, n_runs = base.get((w["name"], 0), {}), new.get((w["name"], 0), {})
        if not b_runs or not n_runs:
            print(f"\n{w['name']}: missing untraced runs on one side")
            continue
        print(f"\n{w['name']}  (base {len(b_runs)} runs, new {len(n_runs)} runs)")
        print(f"  {'metric':<18} {'base median [q1, q3]':<34} "
              f"{'new median [q1, q3]':<34} {'wins':<8} verdict")
        for m in spec["end_to_end"]:
            lower = m["better"] == "lower"
            bv, nv = e2e_values(b_runs, m["name"]), e2e_values(n_runs, m["name"])
            bq, nq = quartiles(list(bv.values())), quartiles(list(nv.values()))
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            pairs = [s for s in bv if s in nv]
            wins = sum(better(nv[s], bv[s]) for s in pairs)
            worse_by = ((nq[1] - bq[1]) if lower else (bq[1] - nq[1])) / bq[1]
            spread = (bq[2] - bq[0]) / bq[1]
            all_better = all(better(x, y) for x in nv.values()
                             for y in bv.values())
            if worse_by > m["bound"]:
                verdict = "worse"
            elif spread > m["bound"] and not all_better:
                verdict = "unresolved"
            else:
                verdict = "ok"
            print(f"  {m['name']:<18} {fmt(bq):<34} {fmt(nq):<34} "
                  f"{wins}/{len(pairs):<6} {verdict} "
                  f"({100 * worse_by:+.1f}% worse, bound {100 * m['bound']:.0f}%)")
        b_tr, n_tr = base.get((w["name"], 1), {}), new.get((w["name"], 1), {})
        for seed in sorted(set(b_tr) & set(n_tr)):
            b, n = b_tr[seed][0]["layers"], n_tr[seed][0]["layers"]
            for c in COUNTERS:
                if c in b and c in n and n[c] > b[c]:
                    print(f"  COUNTER RISE seed {seed}: {c} {b[c]} -> {n[c]}")


def main():
    if len(sys.argv) not in (2, 3):
        raise SystemExit(__doc__)
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    sets = [load(d) for d in sys.argv[1:]]
    if len(sets) == 1:
        summarize(sets[0], spec)
    else:
        compare(sets[0], sets[1], spec)


if __name__ == "__main__":
    main()
