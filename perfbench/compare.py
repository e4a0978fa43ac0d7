#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or check the spread of one.

    python3 perfbench/compare.py BASE_DIR [CHANGE_DIR]

Each directory holds the report files that `run.py` leaves in
`.bench_out/` (`<workload>-seed<n>-trace0.json`); copy that directory
aside after each set of runs. Runs are paired by workload and seed.

For every workload and metric it prints each side's median and
quartiles, the share of pairs the change wins (ties count for neither),
and a verdict against the metric's bound in BENCHMARK.json:

  regression  the change's median is worse than the base's by more than
              the bound
  unresolved  the base's spread (quartile distance over median) exceeds
              the bound, and not every change run beats every base run
  gain        the change wins at least nine tenths of the pairs and the
              medians differ by more than the base's quartile distance
  same        none of the above

Per-operation figures (`merge_cow_p50_s`, `reads_per_s`, ...) have no
bound of their own; they are checked against the largest end-to-end
bound. With one directory it prints each metric's spread and whether it
is below a third of its bound.
"""
import json
import pathlib
import statistics
import sys

HERE = pathlib.Path(__file__).resolve().parent


def load_bounds():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    return bounds, max(b for b, _ in bounds.values())


def direction(name):
    if name.endswith("_per_s"):
        return "higher"
    return "lower"


def load_runs(d):
    runs = {}
    for p in sorted(pathlib.Path(d).glob("*-trace0.json")):
        r = json.loads(p.read_text())
        metrics = dict(r["end_to_end"])
        metrics.update({k: v for k, v in r["by_kind"].items()
                        if not k.endswith("_n") and v is not None})
        runs.setdefault(r["workload"], {})[r["seed"]] = metrics
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def worse(a, b, better):
    """How much worse b is than a, as a share of a."""
    if a == 0:
        return 0.0
    return (a - b) / a if better == "higher" else (b - a) / a


def spread_report(runs, bounds, default_bound):
    ok = True
    print(f"{'workload':14} {'metric':26} {'n':>3} {'q1':>12} {'median':>12} "
          f"{'q3':>12} {'spread':>8} {'bound':>6}  check")
    for wl, by_seed in sorted(runs.items()):
        names = sorted({k for m in by_seed.values() for k in m})
        for name in names:
            xs = [m[name] for m in by_seed.values() if name in m]
            q1, q2, q3 = quartiles(xs)
            bound = bounds.get(name, (default_bound, None))[0]
            s = spread(xs)
            check = "ok" if s < bound / 3 else ("within" if s <= bound else "WIDE")
            if name in bounds and name != "setup_s" and s > bound / 3:
                ok = False
            print(f"{wl:14} {name:26} {len(xs):3} {q1:12.6g} {q2:12.6g} "
                  f"{q3:12.6g} {s:8.4f} {bound:6.2f}  {check}")
    return ok


def compare_report(base, change, bounds, default_bound):
    regressions = 0
    print(f"{'workload':14} {'metric':26} {'pairs':>5} {'base q1/med/q3':>38} "
          f"{'change q1/med/q3':>38} {'wins':>5}  verdict")
    for wl in sorted(set(base) & set(change)):
        seeds = sorted(set(base[wl]) & set(change[wl]))
        names = sorted({k for s in seeds for k in base[wl][s]} &
                       {k for s in seeds for k in change[wl][s]})
        for name in names:
            pairs = [(base[wl][s][name], change[wl][s][name]) for s in seeds
                     if name in base[wl][s] and name in change[wl][s]]
            if not pairs:
                continue
            bound, better = bounds.get(name, (default_bound, direction(name)))
            a = [p[0] for p in pairs]
            b = [p[1] for p in pairs]
            qa, qb = quartiles(a), quartiles(b)
            wins = sum(1 for x, y in pairs if worse(x, y, better) < 0) / len(pairs)
            all_better = all(worse(x, y, better) < 0 for x in a for y in b)
            if worse(qa[1], qb[1], better) > bound:
                verdict = "regression"
                regressions += 1
            elif spread(a) > bound and not all_better:
                verdict = "unresolved"
            elif wins >= 0.9 and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
                verdict = "gain" if worse(qa[1], qb[1], better) < 0 else "loss"
            else:
                verdict = "same"
            fmt = lambda q: f"{q[0]:12.6g}{q[1]:13.6g}{q[2]:13.6g}"
            print(f"{wl:14} {name:26} {len(pairs):5} {fmt(qa)} {fmt(qb)} "
                  f"{wins:5.2f}  {verdict}")
    return regressions == 0


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    bounds, default_bound = load_bounds()
    base = load_runs(sys.argv[1])
    if len(sys.argv) == 2:
        ok = spread_report(base, bounds, default_bound)
    else:
        ok = compare_report(base, load_runs(sys.argv[2]), bounds, default_bound)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
