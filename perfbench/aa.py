"""A/A check: the same code measured as two sets of runs must agree.

    python3 perfbench/aa.py --runs 10
    python3 perfbench/aa.py --runs 5 --workload tile_job

For every workload in BENCHMARK.json (or the one named), runs
`perfbench/run.py` `--runs` times in each of two sets, each run with its
own seed (set 1 uses seeds 1..runs, set 2 seeds 1001..1000+runs), one
run at a time.  For each end-to-end metric it prints each set's median
and quartiles, the spread (quartile distance over the median), and
whether the sets agree: each spread is within the metric's bound
(setup_s is exempt) and the two medians differ, in either direction, by
no more than the bound.  Exits 1 if any pair disagrees or any run
failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict | None:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    print(f"{workload} seed {seed}: {time.time() - t0:.0f} s, "
          f"{'correct' if res['correct'] else 'INCORRECT'}", flush=True)
    return res if res["correct"] else None


def summary(xs: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return {"median": statistics.median(xs), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(xs)}


def worse_by(m: dict, a: float, b: float) -> float:
    """How much worse b is than a, as a share of a (negative = better)."""
    return (b - a) / a if m["better"] == "lower" else (a - b) / a


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    ok = True
    record = {"stamp": {"nproc": len(os.sched_getaffinity(0)),
                        "loadavg": list(os.getloadavg()), "seconds": seconds}}
    for name in names:
        sets = []
        for k in range(2):
            vals: dict[str, list[float]] = {}
            for i in range(args.runs):
                res = one_run(name, 1000 * k + i + 1, seconds)
                if res is None:
                    print(f"{name} set {k + 1} run {i + 1}: FAILED")
                    ok = False
                    continue
                for m, v in res["metrics"].items():
                    vals.setdefault(m, []).append(v["value"])
            sets.append(vals)
        record[name] = sets
        print(f"\n{name}: {args.runs} runs per set, {seconds} s each")
        print(f"{'metric':14s} {'set':>3s} {'q1':>11s} {'median':>11s} {'q3':>11s} "
              f"{'spread':>7s} {'bound':>6s}  verdict")
        for m in bench["end_to_end"]:
            sums = [summary(s[m["name"]]) for s in sets if s.get(m["name"])]
            if len(sums) != 2:
                print(f"{m['name']:14s} missing")
                ok = False
                continue
            for k, s in enumerate(sums):
                spread_ok = m["name"] == "setup_s" or s["spread"] <= m["bound"]
                verdict = "spread ok" if spread_ok else "spread TOO WIDE"
                if k == 1:
                    w = worse_by(m, sums[0]["median"], s["median"])
                    agree = spread_ok and abs(w) <= m["bound"]
                    verdict = f"{'agree' if agree else 'DISAGREE'} (worse by {w:+.3f})"
                    ok &= agree
                else:
                    ok &= spread_ok
                print(f"{m['name']:14s} {k + 1:3d} {s['q1']:11.4f} {s['median']:11.4f} "
                      f"{s['q3']:11.4f} {s['spread']:7.3f} {m['bound']:6.2f}  {verdict}")
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_work", f"aa-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
