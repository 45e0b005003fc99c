"""Benchmark of the osmml dataset builders.

    python3 osmbench/run.py --workload lamp_tiles --seed 42 --seconds 20 --trace 0

Builds the engine and the benchmark from source (see build.py), runs one
workload in one JVM on local[nproc], and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a traced run whose spans are written beside the result.
The lines before it ("# key: value") record the environment, the samples
and any failure messages. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["lamp_tiles", "crop_mosaics"]
# The first run in a checkout compiles and generates the corpus.
FIRST_RUN_BUDGET_S = 870
RUN_BUDGET_S = 170
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", "-XX:-UsePerfData"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    return res.stdout.strip() or "unknown"


def declared_metrics(trace):
    """(name, unit) of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def stop(proc):
    """Terminates the JVM's process group and waits for it."""
    for sig, wait in ((signal.SIGTERM, 15), (signal.SIGKILL, 30)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=wait)
            break
        except subprocess.TimeoutExpired:
            pass


def main():
    started = time.time()
    # a terminated benchmark still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny is the self-test's world")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="drop one output row of the second timed iteration (self-test)")
    args = ap.parse_args()

    first_build = not os.path.exists(os.path.join(build.OUT, "stamp"))
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 3

    tag = f"{args.workload}-{args.scale}-s{args.seed}-t{args.trace}"
    out_dir = os.path.join(ROOT, ".bench_out", tag)
    scratch = os.path.join(out_dir, "scratch")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    result = os.path.join(out_dir, "result.json")
    log = os.path.join(out_dir, "jvm.log")
    cmd = [build.java()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}", "-cp", os.pathsep.join(classpath),
        "osmbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", args.scale,
        "--corrupt", str(args.corrupt),
        "--cache", os.path.join(ROOT, ".bench_cache"), "--scratch", scratch, "--result", result,
        "--trace-out", os.path.join(out_dir, "trace.jsonl"),
        "--pins", os.path.join(HERE, "pins.json"), "--query-data", os.path.join(HERE, "sf0.1"),
        "--t0-ms", str(int(time.time() * 1000)),
        "--commit", commit()]
    budget = (FIRST_RUN_BUDGET_S if first_build else RUN_BUDGET_S) - (time.time() - started)
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, budget))
        except subprocess.TimeoutExpired:
            stop(proc)
            print(f"benchmark JVM exceeded {budget:.0f} s and was stopped; log: {log}", file=sys.stderr)
            return 4
        finally:
            if proc.poll() is None:
                stop(proc)
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.read()[-4000:]
        print(f"benchmark JVM exited with {code}; log: {log}\n{tail}", file=sys.stderr)
        return code or 1

    with open(result) as f:
        res = json.load(f)
    for k, v in res["info"].items():
        print(f"# {k}: {json.dumps(v, sort_keys=True)}")
    metrics = res["metrics"]
    want = declared_metrics(args.trace)
    got = [(k, v["unit"]) for k, v in metrics.items()]
    if sorted(got) != sorted(want):
        print(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
              f"extra {sorted(set(got) - set(want))}", file=sys.stderr)
        return 5
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": {k: metrics[k] for k, _ in want}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
