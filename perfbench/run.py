"""Benchmark command of the graft extraction engine.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 8 --trace 0

Run from the repository root.  Builds the engine and the benchmark from
source on first use (perfbench/build.py), runs one workload in one JVM at
local[nproc], checks its outputs, and prints as the last line of standard
output one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (0 where the workload does
not exercise the layer), and the run's spans are written next to the
result under .bench_build/results/.  --workload all runs the four
workloads one after another in a single JVM.

Exit codes: 0 ok; 1 the run failed or timed out; 2 the build failed;
3 an output check failed (the result line is still printed).
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["crawl_fresh", "crawl_resume", "sql_text", "graph_fixpoint"]
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HEAP = "2g"
DEADLINE_S = 170


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pick(jvm, names, defaults):
    """The JVM's metrics in BENCHMARK.json's order, with their units."""
    out = {}
    for m in names:
        v = jvm.get(m["name"])
        if v is None:
            if not defaults:
                raise KeyError(f"metric {m['name']} not measured")
            v = 0.0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        bench = spec()
        classes = build.build()
        jars = build.spark_jars()
    except (build.BuildError, OSError, ValueError) as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2

    res_dir = os.path.join(build.BUILD, "results")
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(res_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    stem = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    result_file = stem + ".json"
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-ShrinkHeapInSteps",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(build.BUILD, "work"),
            "--expected", os.path.join(HERE, "graph_expected.json"),
            "--result", result_file])
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(stem + ".log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=build.ROOT, start_new_session=True)
        try:
            budget = DEADLINE_S * (len(WORKLOADS) if a.workload == "all" else 1)
            proc.wait(timeout=max(10, budget - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"[perfbench] timed out; log: {stem}.log", file=sys.stderr)
            return 1
    if proc.returncode != 0 or not os.path.exists(result_file):
        print(f"[perfbench] JVM exited with {proc.returncode}; log: {stem}.log", file=sys.stderr)
        with open(stem + ".log") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1

    with open(result_file) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    names = bench["per_layer"] if a.trace else bench["end_to_end"]
    finals = []
    for r in runs:
        for p in r.get("problems", []):
            print(f"[perfbench] {r['workload']}: CHECK FAILED {p}", file=sys.stderr)
        print("manifest " + json.dumps(r["manifest"], sort_keys=True), file=sys.stderr)
        finals.append({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                       "failed": int(r["failed"]),
                       "metrics": pick(r["metrics"], names, defaults=bool(a.trace))})
    if len(finals) == 1:
        final = finals[0]
    else:
        for r, fin in zip(runs, finals):
            print(json.dumps(dict(fin, workload=r["workload"])))
        final = {"correct": all(f["correct"] for f in finals),
                 "attempted": sum(f["attempted"] for f in finals),
                 "failed": sum(f["failed"] for f in finals),
                 "metrics": {f"{r['workload']}.{k}": v for r, fin in zip(runs, finals)
                             for k, v in fin["metrics"].items()}}
    with open(stem + ".result.json", "w") as f:
        json.dump(final, f)
    print(json.dumps(final))
    return 0 if final["correct"] else 3


if __name__ == "__main__":
    sys.exit(main())
