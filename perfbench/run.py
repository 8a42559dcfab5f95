#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload events_analytics --seed 1 --seconds 10 --trace 0

Run from the repo root. The run builds the harness if the sources changed
(`build.py`), writes the seeded inputs (`inputs.py`), fills the DuckDB
oracle cache (`oracle.py`), starts the harness JVM on local[nproc], checks
every op's output, and prints one JSON object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones, from a separate traced run. The full
record, with per-op times and the run's environment, is written to
`perfbench/results/<workload>-seed<seed>-trace<0|1>.json`, and a traced
run's spans to the `.spans.jsonl` file beside it.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import inputs  # noqa: E402
from oracle import Oracle  # noqa: E402

WORK = os.path.join(BENCH, ".work")
CACHE = os.path.join(BENCH, ".cache")
RESULTS = os.path.join(BENCH, "results")
# JVM settings of the library's own sbt build (build.sbt javaOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# A fixed heap and young generation under the parallel collector: peak RSS
# then follows what the program allocates and keeps, not when a collector
# chose to grow the heap.
XMX = "3g"
YOUNG = "1g"
SETUP_SAMPLES = 2          # setup_s is the median of this many JVM starts
RUN_LIMIT_S = 170          # a run ends within 180 s ...
BUILD_RUN_LIMIT_S = 880    # ... or 900 s when it builds


def load_workloads():
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        return json.load(fh)["workloads"]


def jvm_cmd(classes, work, extra):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opts +
            [f"-Xms{XMX}", f"-Xmx{XMX}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
             "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-cp", f"{classes}{os.pathsep}{build.classpath()}",
             "graftbench.Harness"] + extra)


LIVE = []  # harness JVMs started and not yet reaped


class Jvm:
    """One harness JVM. Times its start to the READY line (set-up) and
    keeps stderr in a log file. Every JVM is killed if still running and
    waited for before the run ends."""

    def __init__(self, cmd, log_path):
        self.t0 = time.monotonic()
        self.ready = threading.Event()
        self.ready_s = None
        with open(log_path, "ab") as log:
            self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=ROOT)
        LIVE.append(self)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if self.ready_s is None and line.strip() == b"READY":
                self.ready_s = time.monotonic() - self.t0
                self.ready.set()
        self.ready.set()

    def setup_only(self, deadline):
        """A set-up-only start: wait for READY, then stop the JVM."""
        self.ready.wait(timeout=max(1.0, deadline - time.monotonic()))
        self.kill()
        if self.ready_s is None:
            raise RuntimeError("set-up JVM never reported READY")
        return self.ready_s

    def wait(self, deadline):
        try:
            rc = self.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness JVM ran past the time limit")
        finally:
            self.kill()
        if rc != 0:
            raise RuntimeError(f"harness JVM exited with code {rc}")

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.reader.join(timeout=5)
        if self in LIVE:
            LIVE.remove(self)


def nproc():
    return len(os.sched_getaffinity(0))


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def median(xs):
    return statistics.median(xs) if xs else None


def run(args):
    started = time.monotonic()
    workloads = load_workloads()
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}; have {sorted(workloads)}")
    wl = workloads[args.workload]
    for d in (WORK, CACHE, RESULTS):
        os.makedirs(d, exist_ok=True)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")

    with open(log_path, "ab") as log:
        classes, digest, compiled = build.build(log=log)
    deadline = started + (BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S)
    cores = nproc()

    sql_path = os.path.join(build.BUILD, "oracle_sql.json")
    if not os.path.exists(sql_path):
        Jvm(jvm_cmd(classes, work, ["--mode", "oracle-sql", "--out", sql_path]),
            log_path).wait(deadline)
    with open(sql_path) as fh:
        sql = json.load(fh)
    input_dir = inputs.prepare(args.seed, os.path.join(WORK, "inputs"))
    oracle = Oracle(os.path.join(CACHE, "oracle"), inputs.content_digest(), sql, cores)
    # DuckDB answers once per checkout: the run that builds fills the cache
    # for every benchmark workload, so later runs stay within their time
    oracle.fill([op for w in workloads.values() if w["in_benchmark"] for op in w["ops"]]
                if compiled else wl["ops"], input_dir)

    base = ["--cores", str(cores), "--inputs", input_dir, "--work", work]
    setup = []
    if args.trace == 0:
        for _ in range(SETUP_SAMPLES - 1):
            setup.append(Jvm(jvm_cmd(classes, work, ["--mode", "setup"] + base),
                             log_path).setup_only(deadline))
    out = os.path.join(work, "result.json")
    stem = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    main_jvm = Jvm(jvm_cmd(classes, work, [
        "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--ops", ",".join(wl["ops"]), "--out", out, "--spans", stem + ".spans.jsonl"]
        + base), log_path)
    main_jvm.wait(deadline)
    setup.append(main_jvm.ready_s)
    with open(out) as fh:
        rec = json.load(fh)

    # output check: oracle compare for query ops, in-JVM content checks for layout ops
    checks = []
    for c in rec["checks"]:
        err = c["error"]
        if err is None and c["output"] is not None:
            try:
                err = oracle.check(c["op"], c["output"])
            except Exception as e:  # an unreadable output fails its check
                err = f"oracle compare failed: {type(e).__name__}: {e}"
        checks.append({"op": c["op"], "error": err})
    passes = [rec["cold"], rec["settle"]] + rec["warm"]
    attempted = sum(len(p["ops"]) for p in passes) + len(checks)
    failed_ops = {f["op"] for f in rec["failures"]} | {c["op"] for c in checks if c["error"]}
    failed = len(rec["failures"]) + sum(1 for c in checks if c["error"])
    untraced = [p["wall_s"] for p in rec["warm"] if not p["traced"]]
    traced = [p for p in rec["warm"] if p["traced"]]

    if args.trace == 0:
        metrics = {
            "setup_s": (median(setup), "s"),
            "cold_pass_s": (rec["cold"]["wall_s"], "s"),
            "wall_s": (median(untraced), "s"),
            "peak_rss_mb": (rec["peak_rss_mb"], "MiB"),
            "ok_ratio": (1.0 - len(failed_ops) / len(wl["ops"]), "ratio"),
        }
    else:
        names = sorted({k for p in traced for k in p["layers"]})
        metrics = {k: (median([p["layers"][k] for p in traced]), unit_of(k)) for k in names}
        for k in ("plans.plan_s", "plans.codegen_compiles", "plans.codegen_s"):
            metrics[k.replace("plans.", "plans.cold_")] = (rec["cold"]["layers"][k], unit_of(k))
        wall_t = median([p["wall_s"] for p in traced])
        metrics["trace.wall_s"] = (wall_t, "s")
        metrics["trace.untraced_wall_s"] = (median(untraced), "s")
        metrics["trace.overhead_s"] = (wall_t - median(untraced), "s")
        metrics["trace.overhead_ratio"] = (wall_t / median(untraced) - 1.0, "ratio")
        metrics["operators.build_share"] = (
            metrics["operators.build_s"][0] / wall_t if wall_t else 0.0, "ratio")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "ops": wl["ops"],
        "env": dict(rec["env"], nproc=cores, xmx=XMX, git_revision=revision(),
                    source_digest=digest, calib_s=rec["calib_s"],
                    python=sys.version.split()[0]),
        "setup_samples_s": setup,
        "passes": passes, "failures": rec["failures"], "checks": checks,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for f in rec["failures"]:
        print(f"op failed: pass {f['pass']} {f['op']}: {f['error']}", file=sys.stderr)
    for c in checks:
        if c["error"]:
            print(f"check failed: {c['op']}: {c['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": not any(c["error"] for c in checks),
        "attempted": attempted, "failed": failed,
        "metrics": record["metrics"]}))


def unit_of(name):
    if name.endswith(("_ratio", "_share", "_per_input_byte")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        run(args)
    except Exception as e:  # no result line: the run did not measure
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        for jvm in list(LIVE):
            jvm.kill()


if __name__ == "__main__":
    main()
