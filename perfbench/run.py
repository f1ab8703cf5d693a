#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload {fleet,portal,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), then runs one workload in one JVM with
local[nproc] and one client thread. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics of BENCHMARK.json for --trace 0 and its per-layer
metrics for --trace 1. Lines before it, prefixed "perfbench ", report
every metric the run measured, by name and unit.

Other modes (used by perfbench/test_bench.py): --mode inputs prints the
digest of a workload's generated inputs; --mode selftest runs every check
on deliberately corrupted results.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fleet", "portal", "ingest")
TIMEOUT_S = 170  # for the whole command, both JVMs of a traced run included
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(classpath, tmp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classpath, "perfbench.Main"] + args)


def launch(classpath, out_dir, args, deadline):
    """Runs one benchmark JVM; returns its exit code and stdout lines. The
    JVM gets its own process group, which is killed if it outlives the
    time limit, and its working directory is removed afterwards."""
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = args + ["--work", os.path.join(run_dir, "work")]
    proc = subprocess.Popen(jvm(classpath, tmp, args), stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run: timed out after {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out.splitlines()


def report(lines, kind):
    """The JVM's report line of the given kind, parsed."""
    for line in lines:
        if line.startswith("perfbench {"):
            r = json.loads(line[len("perfbench "):])
            if r.get("kind") == kind:
                return r
    raise SystemExit(f"run: no {kind} report")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", default="run", choices=("run", "inputs", "selftest", "record", "names"))
    ap.add_argument("--out", default="", help="record mode: digest output file")
    a = ap.parse_args()
    if a.mode in ("run", "inputs") and not a.workload:
        ap.error("--workload is required")
    deadline = time.monotonic() + TIMEOUT_S
    os.chdir(build.ROOT)
    if not os.path.isfile("BENCHMARK.json"):
        raise SystemExit("run: BENCHMARK.json missing at the repository root")
    out_dir = build.build_dir()
    classpath = build.build(out_dir)
    if a.mode == "run":
        deadline = max(deadline, time.monotonic() + TIMEOUT_S - 20)
    base = ["--mode", a.mode, "--workload", a.workload or "", "--seed", str(a.seed),
            "--seconds", str(a.seconds)] + (["--out", os.path.abspath(a.out)] if a.out else [])
    code, lines = launch(classpath, out_dir, base + ["--trace", "0"], deadline)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        raise SystemExit(f"run: benchmark exited with code {code}")
    if a.mode != "run":
        print(lines[-1])
        return
    result = json.loads(lines[-1])
    spec = json.load(open("BENCHMARK.json"))
    if a.trace:
        # The traced run repeats the untraced run's work in a fresh JVM;
        # the ratio of their program times is the tracing overhead.
        plain = report(lines, "end_to_end")
        trace_dir = os.path.join(out_dir, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        spans = os.path.join(trace_dir, f"{a.workload}-{a.seed}.jsonl")
        code, lines = launch(classpath, out_dir, base + [
            "--trace", "1", "--rounds", str(plain["rounds"]), "--trace-out", spans], deadline)
        for line in lines[:-1]:
            print(line)
        if code != 0 or not lines:
            raise SystemExit(f"run: traced benchmark exited with code {code}")
        traced = json.loads(lines[-1])
        overhead = report(lines, "end_to_end_traced")["busy_s"] / plain["busy_s"] - 1.0
        traced["metrics"]["trace.overhead_frac"] = {"value": overhead, "unit": "ratio"}
        print(f"perfbench tracing overhead {overhead:+.4f} (traced over untraced program time - 1)")
        result = {"correct": result["correct"] and traced["correct"],
                  "attempted": result["attempted"] + traced["attempted"],
                  "failed": result["failed"] + traced["failed"],
                  "metrics": traced["metrics"]}
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(want):
        raise SystemExit(f"run: metrics {sorted(result['metrics'])} do not match BENCHMARK.json")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
