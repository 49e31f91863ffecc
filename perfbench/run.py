#!/usr/bin/env python3
"""Seeded benchmark of graft: closed-loop workloads, each with one client
thread and one local[nproc] Spark session.

    python3 perfbench/run.py --workload ev_dashboard --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs one workload in a
fresh JVM, checks its outputs (in the JVM and against DuckDB), and prints as
its last line one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The line before it, starting with "# meta",
holds run metadata that is not a metric: host steal ticks and load before
and after, input hashes and sizes, tail percentile and sample count, storage
memory, trace completeness and every check. Exits non-zero when a check
fails or the run cannot complete. See perfbench/README.md.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ev_dashboard", "incremental_refresh")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# what spark-submit would pass on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def host_sample():
    """Steal ticks (all CPUs) and the 1-minute load average, when readable."""
    sample = {}
    try:
        with open("/proc/stat") as f:
            sample["steal_ticks"] = int(f.readline().split()[8])
        with open("/proc/loadavg") as f:
            sample["load_1m"] = float(f.read().split()[0])
    except (OSError, IndexError, ValueError):
        pass
    return sample


def metric_specs():
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def run_jvm(classes, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # no perf-data file in the system temp directory: a run writes only
    # inside the checkout
    # a fixed set of JIT compiler threads, so the CPU metrics can leave
    # out all of their time (scala/Trace.scala, Timing); a fixed heap and
    # the parallel collector: with G1 and a growing heap a pass's CPU kept
    # falling for eight passes, and G1's concurrent cycles, whose CPU
    # counts, ran at moments that varied by run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale),
            "--out", str(work)]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    finally:
        log.close()
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        sys.exit(f"run: the benchmark JVM {'timed out' if code is None else f'exited {code}'}")
    with open(work / "result.json") as f:
        return json.load(f)


def evaluate(res):
    """Every check of one run, JVM-side and DuckDB-side, and the operation
    counts: (checks, attempted, failed). A failed check counts as a failed
    operation."""
    all_checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    all_checks += checks.duckdb_checks(res["meta"].get("duckdb"))
    attempted = res["ops_attempted"] + len(all_checks)
    failed = res["ops_failed"] + sum(1 for c in all_checks if not c[1])
    return all_checks, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies the ev_dashboard input rows, for sizing studies; "
                         "the benchmark's metrics are defined at 1")
    args = ap.parse_args()

    try:
        end_to_end, per_layer = metric_specs()
        classes = build.build()
    except (OSError, KeyError, ValueError, build.BuildError) as e:
        sys.exit(f"run: {e}")

    work = ROOT / ".bench_out" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    before = host_sample()
    t0 = time.time()
    res = run_jvm(classes, args, work)
    wall = time.time() - t0
    after = host_sample()

    all_checks, attempted, failed = evaluate(res)

    if args.trace:
        values = {m["name"]: res["layer"].get(m["name"], 0.0) for m in per_layer}
        specs = per_layer
    else:
        values = {m["name"]: res["e2e"][m["name"]] for m in end_to_end}
        specs = end_to_end
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}

    meta = {k: v for k, v in res["meta"].items() if k != "duckdb"}
    meta.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_wall_s": wall, "host_before": before, "host_after": after,
        "failed_share": failed / attempted,
        "wall": res["wall"],
        "other_metrics": res["layer"] if not args.trace else res["e2e"],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in all_checks],
    })
    with open(work / "run.json", "w") as f:
        json.dump({"meta": meta, "metrics": metrics}, f, indent=1)
    for n, ok, d in all_checks:
        if not ok:
            sys.stderr.write(f"check failed: {n}: {d}\n")
    print("# meta " + json.dumps(meta, separators=(",", ":")))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
