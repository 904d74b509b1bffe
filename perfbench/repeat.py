"""Run one workload of the benchmark on several seeds and summarise.

    python3 perfbench/repeat.py --workload crawl_fresh --seeds 1-10 [--trace 1] [--json out.json]

Run from the repository root. For every metric it prints the median, the
first and third quartiles (statistics.quantiles(values, n=4)) and their
distance as a share of the median, the spread a benchmark bound is
compared with. --json writes the same summary, with every run's values.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--json")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        took = time.monotonic() - t0
        if p.returncode != 0 or not p.stdout.strip():
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-3000:]}", flush=True)
            return 1
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r.update(seed=s, run_s=round(took, 1))
        runs.append(r)
        print(f"seed {s} {took:.0f}s correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    summary = {}
    for k in runs[0]["metrics"]:
        xs = [r["metrics"][k]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        summary[k] = {"unit": runs[0]["metrics"][k]["unit"], "median": med, "q1": q1, "q3": q3,
                      "iqr_share": (q3 - q1) / med if med else None}
        print(f"{k:36s} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}  "
              f"iqr/median {summary[k]['iqr_share'] if med else float('nan'):.3f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "trace": int(a.trace), "summary": summary,
                       "runs": runs}, f, indent=1, sort_keys=True)
    return 0 if all(r["correct"] for r in runs) else 3


if __name__ == "__main__":
    sys.exit(main())
