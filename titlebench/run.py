"""Title-mapper benchmark: one workload per invocation, one closed-loop
client, Spark `local[n]` with n = min(2, nproc).

    python3 titlebench/run.py --workload std_expr --seed 1 --seconds 10 --trace 0

Builds the program from the checkout's sources (build.py), writes the
seeded inputs (inputs.py), then starts one fresh JVM that sets up, runs the
timed phase and checks the outputs. The std_* timed phase runs batches
until --seconds have passed (at least two); bm25_ingest runs a fixed
schedule of appends and queries that --seconds sizes (inputs.py). Prints
each metric by name with its unit and, as the last line, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a traced run with `--trace 1`.
Exits non-zero on any failed op or correctness mismatch.
"""
import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("std_expr", "std_join", "bm25_ingest")
RUN_BUDGET_S = 170
# the --add-opens set Spark needs on JDK 17, as build.sbt passes it to forked runs
JVM_OPTS = ["-Xmx2g", "-Xss8m"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]

# Every per-layer metric of a traced run, with its unit. A workload that
# does not exercise a layer reports 0 for it (see README.md).
PER_LAYER = (
    ("dict.load_ms", "ms"), ("index.build_ms", "ms"), ("index.postings_ms", "ms"),
    ("text.tokenize_ns_per_row", "ns/row"), ("text.tokenize_stem_ns_per_row", "ns/row"),
    ("text.stem_ns_per_token", "ns/token"), ("index.query_vector_ns_per_row", "ns/row"),
    ("index.best_match_self_ns_per_row", "ns/row"),
    ("index.postings_visited_per_row", "count/row"), ("index.candidates_per_row", "count/row"),
    ("functions.standardize_ns_per_row", "ns/row"),
    ("functions.compose_self_ns_per_row", "ns/row"),
    ("expressions.overhead_ns_per_row", "ns/row"),
    ("spark.jobs_per_op", "count/op"), ("spark.stages_per_op", "count/op"),
    ("spark.tasks_per_op", "count/op"), ("spark.driver_ms_per_op", "ms/op"),
    ("spark.executor_cpu_ms_per_op", "ms/op"), ("spark.gc_ms_per_op", "ms/op"),
    ("spark.shuffle_write_bytes_per_op", "B/op"), ("spark.shuffle_read_bytes_per_op", "B/op"),
    ("spark.spill_bytes_per_op", "B/op"), ("spark.input_rows_per_op", "rows/op"),
    ("spark.task_failures", "count"),
    ("bm25.build_ms", "ms"), ("bm25.append_ms", "ms"), ("bm25.compact_ms", "ms"),
    ("bm25.query_ms", "ms"), ("bm25.files_after_append", "files"),
    ("bm25.bytes_written_per_append", "B/append"), ("bm25.rows_read_per_result", "rows/result"),
    ("bm25.index_bytes_per_input_byte", "ratio"),
    ("trace.overhead_pct", "%"),
)


def tail(samples):
    """Highest percentile with at least ten samples beyond it (nearest
    rank), as (percentile, value); None below twenty samples."""
    xs = sorted(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(xs) * (1 - p / 100.0) >= 10:
            return p, xs[math.ceil(p / 100.0 * len(xs)) - 1]
    return None


def run_jvm(cp, args, log, deadline):
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + args["work"] + "/tmp",
                                 "-cp", cp, "titlebench.Main"]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    os.makedirs(args["work"] + "/tmp", exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    with open(log, "wb") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=err, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("titlebench: JVM exceeded the run budget (log: %s)" % log)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit("titlebench: JVM exited with %d (log: %s)" % (code, log))
    with open(args["out"]) as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs; (0, 0) where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def host_probe_ms():
    """Median time of a fixed single-threaded loop, in ms. The guest's
    vCPUs share the host's cores with other tenants, so its speed moves with
    their load even when no time is stolen: a reader compares this probe
    before comparing two runs."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(1000000):
            s += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def end_to_end(workload, r):
    """The gated end-to-end metrics, and report lines that also carry the
    workload's own names for them (ingest_docs_per_s, query_p50_s, ...)."""
    ops = [o for o in r["ops"] if o["ok"]]
    main = "query" if workload == "bm25_ingest" else "batch"
    lat = sorted(o["dur_ns"] / 1e9 for o in ops if o["kind"] == main)
    writes = [o for o in ops if o["kind"] == ("append" if workload == "bm25_ingest" else "batch")]
    if not lat or not writes:
        raise SystemExit("titlebench: no successful op to measure: %s"
                         % "; ".join(r["op_failures"][:3]))
    metrics = {
        "setup_s": (r["setup_ms"] / 1e3, "s"),
        "rows_per_s": (sum(o["rows"] for o in writes) / (sum(o["dur_ns"] for o in writes) / 1e9),
                       "rows/s"),
        "batch_p50_s": (statistics.median(lat), "s"),
    }
    t = tail(lat)
    tail_line = (("%.6g s" % t[1], "p%g of %d %s ops" % (t[0], len(lat), main)) if t
                 else ("n/a", "only %d %s ops; p50 needs 20" % (len(lat), main)))
    report = [("setup_s", "%.6g s" % metrics["setup_s"][0], "")]
    if workload == "bm25_ingest":
        report += [
            ("build_s", "%.6g s" % (r["build_ms"] / 1e3), "inside setup_s"),
            ("ingest_docs_per_s", "%.6g docs/s" % metrics["rows_per_s"][0],
             "gated as rows_per_s; %d appends, %d compactions" % (len(writes), r["compactions"])),
            ("query_p50_s", "%.6g s" % metrics["batch_p50_s"][0],
             "gated as batch_p50_s; %d query ops" % len(lat)),
            ("query_tail_s",) + tail_line,
            ("index_bytes_per_input_byte", "%.6g ratio" % r["index_bytes_per_input_byte"],
             "%d index bytes / %d doc text bytes" % (r["index_bytes"], r["doc_text_bytes"])),
        ]
    else:
        report += [
            ("rows_per_s", "%.6g rows/s" % metrics["rows_per_s"][0],
             "%d batch ops" % len(lat)),
            ("batch_p50_s", "%.6g s" % metrics["batch_p50_s"][0], ""),
            ("batch_tail_s",) + tail_line,
        ]
    report.append(("peak_rss_mb", "%.6g MB" % (r["peak_rss_kb"] / 1024.0),
                   "VmHWM at the end of the timed phase"))
    return metrics, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, src_digest = build.ensure()
    deadline = time.time() + RUN_BUDGET_S  # the first run's build is not counted
    # two task threads leave the other vCPUs to the JIT, GC and driver
    # threads: on a shared 4-vCPU guest local[2] ran faster and steadier
    # than local[4]
    threads = min(2, os.cpu_count() or 1)
    run_dir = os.path.join(build.OUT, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "inputs")
    log = os.path.join(build.OUT, "last-%s.log" % a.workload)
    args = {"workload": a.workload, "inputs": in_dir, "work": os.path.join(run_dir, "jvm"),
            "out": os.path.join(run_dir, "result.json"),
            "seconds": a.seconds, "trace": a.trace, "threads": threads}
    if a.trace:
        os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
        args["trace-out"] = os.path.join(build.OUT, "traces",
                                         "%s-seed%d.json" % (a.workload, a.seed))
    try:
        in_sha, in_bytes = inputs.generate(build.ROOT, in_dir, a.workload, a.seed, a.seconds,
                                           threads)
        probe0 = host_probe_ms()
        steal0, total0 = cpu_ticks()
        r = run_jvm(cp, args, log, deadline)
        steal1, total1 = cpu_ticks()
        probe1 = host_probe_ms()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = r["op_failures"] + r["check_failures"]
    attempted = len(r["ops"]) + r["checks_run"]
    failed = sum(1 for o in r["ops"] if not o["ok"]) + len(r["check_failures"])
    if a.trace:
        layer = r["per_layer"]
        metrics = {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER}
        report = [(k, "%.6g %s" % (v, u), "" if k in layer else "not exercised")
                  for k, (v, u) in metrics.items()]
    else:
        metrics, report = end_to_end(a.workload, r)
    report.append(("op_error_rate", "%.6g fraction" % (failed / attempted),
                   "%d failed of %d attempted" % (failed, attempted)))

    commit = "unknown"
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        commit = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or commit
    fingerprint = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "spark_master": "local[%d]" % threads,
        "java": r["java_version"], "spark": r["spark_version"], "scala": r["scala_version"],
        "python": platform.python_version(), "commit": commit,
        "source_sha256": src_digest[:16], "input_sha256": in_sha[:16], "input_bytes": in_bytes,
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # host contention, not the program, when it is high
        "cpu_steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 1),
        # the host's speed just before and just after the JVM ran
        "host_probe_ms": "%.1f/%.1f" % (probe0, probe1),
    }
    for key in ("rows", "distinct_tokens", "stem_memo_cap", "appends", "compactions"):
        if key in r:
            fingerprint[key] = r[key]
    result = {"correct": not failures, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}

    res_dir = os.path.join(build.OUT, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)),
              "w") as f:
        json.dump({"fingerprint": fingerprint, "result": result, "failures": failures,
                   "raw": r}, f, indent=1)
    print("titlebench " + " ".join("%s=%s" % kv for kv in fingerprint.items()))
    for name, value, note in report:
        print("  %-34s %-22s %s" % (name, value, note))
    for msg in failures:
        print("FAILED: " + msg)
    print(json.dumps(result))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
