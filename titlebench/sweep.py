"""Run the benchmark on several seeds and summarise each metric as its
median, quartiles and spread (quartile distance over the median).

    python3 titlebench/sweep.py --workload std_join --seeds 1-10 [--trace 0] [--seconds 12]

With `--json FILE` the summary is also written as JSON (the format of
BASELINE.json's per-workload entries). A seed whose run fails or reports
`"correct": false` is kept in the JSON under `runs` and `failed_seeds`, is
left out of the summary, and makes the sweep exit 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seconds", default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--json")
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = str(json.load(f)["run_seconds"])
    values, units, runs, failed = {}, {}, [], []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", seconds,
                            "--trace", a.trace], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        print("seed %d exit %d %s" % (s, p.returncode, lines[-1] if lines else p.stderr[-500:]),
              flush=True)
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = None
        runs.append({"seed": s, "exit": p.returncode,
                     "fingerprint": lines[0] if lines else None, "result": result,
                     "stderr_tail": p.stderr[-2000:] if p.returncode else ""})
        if p.returncode != 0 or result is None or not result["correct"]:
            # a failed seed stays in the record and fails the sweep; its
            # metrics, if any, are left out of the summary below
            failed.append(s)
            continue
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    summary = {}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        summary[k] = {"unit": units[k], "median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else 0.0, "n": len(xs)}
        print("%-36s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.4f  n=%d"
              % (k, med, q1, q3, summary[k]["spread"], len(xs)))
    if failed:
        print("FAILED seeds: %s" % ", ".join(map(str, failed)))
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seconds": float(seconds), "trace": int(a.trace),
                       "failed_seeds": failed, "summary": summary, "runs": runs}, f, indent=1)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
