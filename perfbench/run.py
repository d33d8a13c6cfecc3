"""graft's benchmark. Run from the repo root:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the program (perfbench/build.py), makes the workload's inputs
from the seed, takes set-up samples, runs the workload's timed passes
(as many as `--seconds` asks for) in one benchmark JVM and prints, as
the last line, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1.
Exits 1 when an operation failed or a result check did not hold.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen_walmart  # noqa: E402

ETL_ROWS = 2000          # lines in batch 1 (batch 2 adds 10%)
ETL_DAYS = 30            # order dates span; each date is a fact partition
SETUP_SAMPLES = 2        # set-ups per run; the last one is the workload JVM's own
RUN_TIMEOUT_S = 170      # whole run after the build, set-ups included
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Jvm:
    """One benchmark JVM; `ready_s` is the time from launch to its READY line."""

    def __init__(self, classes, work, args, deadline):
        # -XX:-UsePerfData: no /tmp/hsperfdata file; every path the JVM
        # writes is under the run directory
        cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseSerialGC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", f"{classes}:{build.spark_jars()}", "graftbench.Main"] + args
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        self.deadline = deadline
        self.stderr = open(os.path.join(work, "jvm.log"), "a")
        self.ready_s = None
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.stderr,
                                     env=env, text=True)

        def read_stdout():
            for line in self.proc.stdout:
                if line.strip() == "READY" and self.ready_s is None:
                    self.ready_s = time.perf_counter() - t0

        self.reader = threading.Thread(target=read_stdout, daemon=True)
        self.reader.start()

    def wait(self):
        try:
            code = self.proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            raise RuntimeError("benchmark JVM timed out")
        finally:
            self.reader.join()
            self.stderr.close()
        if code != 0 or self.ready_s is None:
            raise RuntimeError(f"benchmark JVM exited with {code}")


def prewarm(path):
    """Read every file once so the first timed scan does not pay a cold page cache."""
    for d, _, fs in os.walk(path):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


def run_workload(root, spec, workload, seed, seconds, trace):
    classes = build.build(root)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    stages = [("start", time.monotonic())]
    work = os.path.join(root, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    if workload == "etl_batch":
        data = os.path.join(work, "data")
        gen_walmart.generate(data, seed, ETL_ROWS, ETL_DAYS)
        extra = []
    else:
        data = os.path.join(HERE, "testdata", "sf0.01")
        extra = ["--digests", os.path.join(HERE, "digests.tsv")]
    prewarm(data)
    # start on a quiet disk: write-back of the inputs, and the discards a
    # previous run's deletes leave queued, land before anything is timed
    os.sync()
    stages.append(("inputs", time.monotonic()))
    args = ["--workload", workload, "--seed", str(seed), "--data", data,
            "--work", work, "--trace", str(trace)] + extra
    try:
        setups = []
        for _ in range(SETUP_SAMPLES - 1):
            jvm = Jvm(classes, work, ["--mode", "setup"] + args, deadline)
            jvm.wait()
            setups.append(jvm.ready_s)
        stages.append(("set-ups", time.monotonic()))
        jvm = Jvm(classes, work, ["--mode", "run", "--seconds", str(seconds), "--out", out] + args,
                  deadline)
        jvm.wait()
        setups.append(jvm.ready_s)
        stages.append(("workload JVM", time.monotonic()))
        with open(out) as f:
            res = json.load(f)
        spans = out + ".spans"
        os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
        keep = os.path.join(root, ".bench_out", f"{workload}-seed{seed}-trace{trace}")
        with open(keep + ".json", "w") as f:
            json.dump(dict(res, setup_samples_s=setups), f, indent=1)
        if os.path.exists(spans):
            shutil.copy(spans, keep + ".spans.jsonl")
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(root, ".bench_out", f"{workload}-seed{seed}-trace{trace}.log"))
        shutil.rmtree(work, ignore_errors=True)
        os.sync()
    stages.append(("teardown", time.monotonic()))
    log(f"{workload}: " + ", ".join(
        f"{name} {t - t0:.1f} s" for (_, t0), (name, t) in zip(stages, stages[1:])))

    measured = dict(res["metrics"], setup_s=statistics.median(setups))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        # a layer the workload does not run measures 0
        value = measured.get(m["name"]) if not trace else res["layers"].get(m["name"], 0.0)
        if value is None:
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for note in res["notes"]:
        log(f"{workload}: {note}")
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def record_digests(root):
    """Rewrite digests.tsv from the current program's results."""
    work = os.path.join(root, ".bench_run", f"record-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        jvm = Jvm(build.build(root), work,
                  ["--mode", "record", "--data", os.path.join(HERE, "testdata", "sf0.01"),
                   "--out", os.path.join(HERE, "digests.tsv")],
                  time.monotonic() + 1800)
        jvm.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite perfbench/digests.tsv from the current program (no run)")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.record_digests:
        record_digests(root)
        return 0
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    names = [w["name"] for w in spec["workloads"]]
    if a.workload is None or (a.workload != "all" and a.workload not in names):
        ap.error(f"unknown workload {a.workload}; one of {names} or all")
    results = {}
    for w in names if a.workload == "all" else [a.workload]:
        try:
            results[w] = run_workload(root, spec, w, a.seed, seconds, a.trace)
        except Exception as e:
            log(f"{w}: {e}")
            return 2
        if a.workload == "all":
            for name, m in results[w]["metrics"].items():
                print(f"{w:14s} {name:28s} {m['value']:.6g} {m['unit']}")
            print(f"{w:14s} error_rate {results[w]['failed'] / results[w]['attempted']:.6g} ratio")
    if a.workload == "all":
        ok = all(r["correct"] for r in results.values())
        print(json.dumps({"correct": ok, "workloads": results}))
    else:
        ok = results[a.workload]["correct"]
        print(json.dumps(results[a.workload]))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
