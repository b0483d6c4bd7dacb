#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload search_or --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds graft and the harness from source
(perfbench/build.py) into $CARGO_TARGET_DIR (default .bench_build), then
runs one JVM with Spark local[4] driven by a single closed-loop client
(perfbench/scala/Main.scala). The last line of standard output is one
JSON object: correct, attempted, failed and the metrics of BENCHMARK.json,
end-to-end ones with --trace 0 and per-layer ones with --trace 1. A
traced run also writes its spans and Spark counts to
$CARGO_TARGET_DIR/profiles/<workload>-<seed>.json.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("search_or", "search_bool")
JVM_TIMEOUT_S = 170
# Heap settings that make peak RSS follow what the program holds: a fixed
# heap (a growable one follows G1's resizing decisions, which vary run to
# run far more than the program's memory use), a fixed young generation
# (else G1 grows eden until the whole heap has been touched, which pins
# RSS at the heap size), and concurrent marking from 20% occupancy, so
# old-generation garbage is reclaimed before it adds to the peak.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn256m",
              "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=20"]


def run_jvm(root, classes, out_dir, workload, seed, seconds, trace):
    work = out_dir / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record = work / "record.json"
    log = work / "jvm.log"
    opens = [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java"] + JVM_MEMORY + ["-Xss16m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"] + opens +
           ["-cp", build.classpath(root, classes), "graftbench.Main",
            workload, str(seed), str(seconds), str(trace), str(record), str(work)])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not record.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write(f"harness JVM failed ({rc}):\n" + "\n".join(tail) + "\n")
        return None
    rec = json.loads(record.read_text())
    # the harness's progress lines ("[  12.3 s] ...") and failed checks
    for l in log.read_text(errors="replace").splitlines():
        if l.startswith("[") or l.startswith("FAIL "):
            sys.stderr.write(l + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    out_dir = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    out_dir.mkdir(parents=True, exist_ok=True)
    try:
        t0 = time.time()
        classes = build.build(root, out_dir)
        sys.stderr.write(f"build ready in {time.time() - t0:.1f} s\n")
    except build.BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 2

    rec = run_jvm(root, classes, out_dir, a.workload, a.seed, a.seconds, a.trace)
    if rec is None:
        return 3
    attempted, failed = rec["attempted"], rec["failed"]
    if len(rec["latencies"]) < stats.min_samples(90):
        sys.stderr.write(f"note: {len(rec['latencies'])} timed requests leave fewer than ten "
                         f"beyond p90 (needs {stats.min_samples(90)})\n")
    kinds = {}
    for x in rec["latencies"]:
        kinds.setdefault(x["kind"], []).append(x["s"])
    info = {"gen": rec["gen"], "samples": len(rec["latencies"]),
            "p50_by_kind": {k: [len(v), round(stats.median(v), 4)] for k, v in kinds.items()},
            "fail_frac": stats.fail_frac(attempted, failed), "failures": rec["failures"]}
    if a.trace:
        metrics = stats.per_layer(rec)
        info["trace_overhead_frac"] = stats.trace_overhead(rec["overhead"])
        prof_dir = out_dir / "profiles"
        prof_dir.mkdir(exist_ok=True)
        profile = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "metrics": metrics, "info": info, "spans": stats.Trace(rec["trace"]).summary(),
                   "trace": rec["trace"]}
        (prof_dir / f"{a.workload}-{a.seed}.json").write_text(json.dumps(profile))
    else:
        metrics = stats.end_to_end(rec)
    print("info " + json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
