"""Benchmark runner for batch3dfier_spark.

    python3 perfbench/run.py --workload tile_job --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Runs one workload (see workloads.py) in this process on a local Spark
session with one task slot per CPU, measures it for `--seconds` (and
at least one operation, the first of which runs in a fresh JVM), checks
every output, and prints as its last stdout line one JSON object
`{"correct", "attempted", "failed", "metrics"}`.  `--trace 0` reports
the end-to-end metrics; `--trace 1` reports the per-layer metrics of a
traced run (see layers.py).  `--workload all` runs each workload in a
child process and prints every workload's named metrics with units and
a PASS/FAIL line.

Everything the run writes goes under `.perfbench_work/` in the checkout
that holds this file; the per-run directory is removed at exit and a
result artifact is kept under `.perfbench_work/results/`.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 5
NAMES = ("tile_job", "tile_query", "textpipe")


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    return {"value": s[n - 11], "percentile": int(100 * (n - 10) / n), "samples": n}


def source_stamp() -> dict:
    """The commit when the checkout is a git work tree, and always a
    digest of the engine's sources (the benchmark checkout is not)."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "batch3dfier_spark", "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: on a VM, steal is
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


# ---------------------------------------------------------------------------
# one workload, in this process


class Session:
    """The Spark session and the JVM behind it, confined to `work`."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
        os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    def start(self, event_log: bool = False):
        from batch3dfier_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        wh = os.environ["SPARK_GRAFT_WAREHOUSE"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={wh} -Djava.io.tmpdir={tmp}",
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                # no zstd module is assumed: keep the log plain JSON
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            })
        self.spark = get_spark(app_name="perfbench", cores=self.cores,
                               shuffle_partitions=2 * self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        """Stop the Spark session; the JVM keeps running."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def stop(self) -> None:
        """Stop Spark, then the JVM, then wait for every child to exit."""
        from pyspark import SparkContext

        from tracing import tree_pids

        self.stop_session()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while len(tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.2)
        for pid in tree_pids()[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        while len(tree_pids()) > 1 and time.time() < deadline + 10:
            time.sleep(0.2)


def measure(wl, seconds: float, min_ops: int) -> list[dict]:
    """Closed loop: operations back to back until `seconds` have passed
    and at least `min_ops` have run."""
    samples = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(samples) < min_ops:
        try:
            samples.append(wl.step())
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            samples.append({"kind": "error", "s": float("nan"), "cpu_s": float("nan"),
                            "ok": False, "problems": [repr(e)]})
    return samples


def end_to_end(name: str, wl, samples: list[dict], setup_s: float,
               peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics bounded in BENCHMARK.json, named metrics) of one untraced run."""
    ok = [s for s in samples if s["ok"]]
    named = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "failed_frac": (1 - len(ok) / len(samples), "frac"),
    }

    def med(key):
        return median([s[key] for s in ok])

    def queries(xs):
        for kind in xs:
            named[f"{kind}_p50_s"] = (median(xs[kind]), "s")
            t = tail(xs[kind])
            named[f"{kind}_tail_s"] = (
                (t["value"], f"s@p{t['percentile']}") if t else
                (None, f"s (needs 11 samples, have {len(xs[kind])})"))

    if name == "tile_job":
        # the whole iteration (job, load, query) is the operation
        op, cpu = med("s"), med("cpu_s")
        rows_per_s = wl.N / op
        named["job_pages_per_s"] = (wl.N / med("phase1_s"), "pages/s")
        named["resume_s"] = (med("phase2_s"), "s")
        named["table_bytes_per_input_byte"] = (med("table_bytes_per_input_byte"), "ratio")
        named["ingest_pages_per_s"] = (wl.N / med("ingest_s"), "pages/s")
        queries({"knn": [s["knn_s"] for s in ok]})
    elif name == "tile_query":
        rows_per_s = wl.N / median([s["s"] for s in ok if s["kind"] == "ingest"])
        qs = [s for s in ok if s["kind"] in ("extent", "knn")]
        op = median([s["s"] for s in qs])
        cpu = median([s["cpu_s"] for s in qs])
        named["ingest_pages_per_s"] = (rows_per_s, "pages/s")
        queries({k: [s["s"] for s in qs if s["kind"] == k] for k in ("extent", "knn")})
    else:
        op, cpu = med("s"), med("cpu_s")
        rows_per_s = wl.sizes["docs"] / op
        named["docs_per_s"] = (rows_per_s, "docs/s")
    named["cpu_s"] = (cpu, "s")
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s": {"value": cpu, "unit": "s"},
        "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
        "op_p50_s": {"value": op, "unit": "s"},
    }
    return metrics, named


def untraced_op_s(name: str, sha: str) -> list[float]:
    """op_p50_s of the earlier untraced runs of this workload on the
    same sources, from the result artifacts in this checkout."""
    out = []
    for p in glob.glob(os.path.join(WORK_ROOT, "results", f"{name}-*-t0-*.json")):
        try:
            with open(p) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if r["stamp"].get("source_sha256") == sha and not r["problems"]:
            out.append(r["metrics"]["op_p50_s"]["value"])
    return out


def run_one(name: str, seed: int, seconds: float, trace: bool) -> int:
    from tracing import NullTracer, Tracer, tree_peak_rss_mb
    from workloads import WORKLOADS

    import layers

    steal0 = cpu_ticks()
    stamp = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
             "nproc": ncpu(), "loadavg": list(os.getloadavg()), **source_stamp()}
    work = os.path.join(WORK_ROOT, f"{name}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sess = Session(work, ncpu())
    cls = WORKLOADS[name]
    wl = None
    try:
        # set-up = session + input generation, repeated: the first one
        # also launches the JVM, so the median is a restart.  Stopping
        # the previous set-up's session is not timed: it takes about 0 s
        # or 0.5 s at random, which alone moved the median by a third.
        # A traced run turns the event log on in the last session.
        setup = []
        for r in range(SETUP_REPS):
            if wl is not None:
                wl.close()
                shutil.rmtree(wl.work, ignore_errors=True)
                sess.stop_session()
            t0 = time.perf_counter()
            spark = sess.start(event_log=trace and r == SETUP_REPS - 1)
            t1 = time.perf_counter()
            wl = cls(spark, os.path.join(work, f"setup{r}"), seed, NullTracer())
            wl.setup()
            setup.append({"s": time.perf_counter() - t0, "session_s": t1 - t0,
                          "datagen_s": time.perf_counter() - t1})
        setup_s = median([r["s"] for r in setup])
        # no warm-up: the first operation runs in a fresh JVM, as a batch
        # job does, so every run measures the same point of the JIT's
        # warm-up instead of wherever a time window happens to end
        min_ops = 4 if name == "tile_query" else 1
        if not trace:
            samples = measure(wl, seconds, min_ops)
            metrics, named = end_to_end(name, wl, samples, setup_s, tree_peak_rss_mb())
        else:
            tracer = Tracer(wl.spark.sparkContext, cpu_spans=layers.CPU_SPANS)
            layers.install(tracer)
            wl.tracer = tracer
            samples = measure(wl, seconds, min_ops)
            extra = layers.workload_counts(wl)
            tracer.unwrap_all()
            wl.close()
            sess.stop_session()
            from eventlog import EventLog

            base = untraced_op_s(name, stamp["source_sha256"])
            metrics = layers.per_layer(name, tracer, EventLog(sess.event_dir), samples,
                                       base, setup, extra)
            stamp["trace_baseline_runs"] = len(base)
            named = {}
    finally:
        if wl is not None:
            wl.close()
        sess.stop()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not s["ok"] for s in samples)
    problems = [p for s in samples for p in s.get("problems", ())]
    steal1 = cpu_ticks()
    stamp.update({"loadavg_end": list(os.getloadavg()),
                  "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
                  "input_sizes": wl.sizes, "setup": setup,
                  "ops": {k: sum(s["kind"] == k for s in samples)
                          for k in sorted({s["kind"] for s in samples})}})
    report = {"stamp": stamp, "named": named, "problems": problems[:20]}
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "results",
                           f"{name}-s{seed}-t{int(trace)}-{int(time.time())}.json"), "w") as f:
        json.dump({**report, "metrics": metrics,
                   "samples": [{k: v for k, v in s.items() if k != "problems"}
                               for s in samples]}, f, indent=1, default=str)
    for k, (v, unit) in named.items():
        print(f"{name} {k} = {v} {unit}")
    print(f"{name} correctness: {'PASS' if not failed else 'FAIL'} "
          f"({failed} of {len(samples)} operations failed)")
    for p in problems[:20]:
        print(f"{name} problem: {p}")
    print("perfbench-report " + json.dumps(report, default=str))
    for v in metrics.values():  # no op succeeded: report 0, never NaN
        if not math.isfinite(v["value"]):
            v["value"] = 0.0
    print(json.dumps({"correct": failed == 0, "attempted": len(samples),
                      "failed": failed, "metrics": metrics}))
    return 0


# ---------------------------------------------------------------------------
# all workloads, one child process each


def run_all(seed: int, seconds: float) -> int:
    failed_any = False
    for name in NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        rep = next((json.loads(l.split(" ", 1)[1]) for l in lines
                    if l.startswith("perfbench-report ")), None)
        if proc.returncode != 0 or rep is None:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"{name}: FAIL (exit {proc.returncode})")
            failed_any = True
            continue
        res = json.loads(lines[-1])
        for k, (v, unit) in rep["named"].items():
            val = "-" if v is None else f"{v:.6g}"
            print(f"{name:10s} {k:28s} {val:>12} {unit}")
        status = "PASS" if res["correct"] else "FAIL"
        print(f"{name:10s} {'correctness':28s} {status:>12} "
              f"({res['failed']} of {res['attempted']} operations failed)")
        failed_any |= not res["correct"]
    return 1 if failed_any else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "batch3dfier_spark", "__init__.py")):
        print(f"perfbench: no batch3dfier_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
