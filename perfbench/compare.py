#!/usr/bin/env python3
"""Record, compare and check the spread of benchmark runs.

    python3 perfbench/compare.py run OUT.jsonl [--workloads a,b] [--seeds 1-10]
        [--trace 0|1]
        Run the benchmark once per workload and seed from the checkout
        root and append {"workload", "seed", "trace", "result"} lines.
    python3 perfbench/compare.py spread RUNS.jsonl
        Per workload and end-to-end metric: median, quartiles and the
        quartile distance as a share of the median, against the bound in
        BENCHMARK.json (the same-code spread the bounds are set from).
    python3 perfbench/compare.py diff BASE.jsonl NEW.jsonl
        Per workload and metric: each side's median and quartiles, and a
        verdict against the bound: worse (median worse by more than the
        bound), better (NEW wins at least nine tenths of the base/new run
        pairs and the medians differ by more than the base's quartile
        distance), unresolved (a side's spread exceeds the bound) or
        within bound.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_runs(path):
    """Untraced runs by workload. A run whose answers were wrong, whose
    operations failed or that lacks a metric is dropped with a warning:
    its figures do not measure working code."""
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r["trace"] != 0:
                    continue
                res = r["result"]
                if not res["correct"] or res["failed"] or any(
                        m["value"] is None for m in res["metrics"].values()):
                    print(f"{path}: dropped {r['workload']} seed {r['seed']}: "
                          f"correct={res['correct']} failed={res['failed']}", file=sys.stderr)
                    continue
                runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if metric in r["result"]["metrics"]]


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_run(argv):
    out = argv[0]
    opts = dict(zip(argv[1::2], argv[2::2]))
    bench = load_bench()
    names = opts.get("--workloads", ",".join(w["name"] for w in bench["workloads"]))
    trace = int(opts.get("--trace", "0"))
    for seed in seeds(opts.get("--seeds", "1-10")):
        for w in names.split(","):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            with open(out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": trace,
                                    "result": res}) + "\n")
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")


def cmd_spread(argv):
    bench = load_bench()
    runs = load_runs(argv[0])
    print(f"{'workload':12s} {'metric':12s} {'n':>3s} {'q1':>10s} {'median':>10s} "
          f"{'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for w, rs in sorted(runs.items()):
        fails = sorted({(r['result']['failed'], r['result']['attempted']) for r in rs})
        for m in bench["end_to_end"]:
            xs = values(rs, m["name"])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= m["bound"] else "  OVER BOUND"
            print(f"{w:12s} {m['name']:12s} {len(xs):3d} {q1:10.4g} {med:10.4g} "
                  f"{q3:10.4g} {spread:7.3f} {m['bound']:6.2f}{flag}")
        print(f"{w:12s} failed/attempted per run: {fails}")


def cmd_diff(argv):
    bench = load_bench()
    base, new = load_runs(argv[0]), load_runs(argv[1])
    for w in sorted(set(base) & set(new)):
        for m in bench["end_to_end"]:
            a, b = values(base[w], m["name"]), values(new[w], m["name"])
            if not a or not b:
                continue
            (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
            sign = 1 if m["better"] == "lower" else -1
            worse_by = sign * (bm - am) / am
            wins = sum(1 for x in a for y in b if sign * (y - x) < 0)
            ties = sum(1 for x in a for y in b if y == x)
            pairs = len(a) * len(b) - ties
            if worse_by > m["bound"]:
                verdict = "WORSE"
            elif pairs and wins >= 0.9 * pairs and abs(bm - am) > (a3 - a1):
                verdict = "better"
            elif max((a3 - a1) / am, (b3 - b1) / bm) > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "within bound"
            print(f"{w:12s} {m['name']:12s} base {am:10.4g} [{a1:.4g}, {a3:.4g}]  "
                  f"new {bm:10.4g} [{b1:.4g}, {b3:.4g}]  {-worse_by:+.1%}  {verdict}")


def main():
    if len(sys.argv) < 3 or sys.argv[1] not in ("run", "spread", "diff"):
        sys.exit(__doc__)
    {"run": cmd_run, "spread": cmd_spread, "diff": cmd_diff}[sys.argv[1]](sys.argv[2:])


if __name__ == "__main__":
    main()
