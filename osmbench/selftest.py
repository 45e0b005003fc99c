"""Self-test of the benchmark on the tiny world.

    python3 osmbench/selftest.py

For every workload it checks that an untraced and a traced run print every
metric of BENCHMARK.json with its unit and a correct result, and that a run
whose output loses one row reports the failure. Over the traced runs of all
workloads, every per-layer metric must be measured and non-zero on at least
one of them (a spill may be zero). Last, a set engine knob must stop the run
before it prints a result.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def run(workload, extra=(), env=None):
    res = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", "2",
                                "--scale", "tiny"] + list(extra),
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         env=env, timeout=600)
    lines = res.stdout.strip().splitlines()
    return res.returncode, lines[-1] if lines else "", res.stderr, lines


def result(workload, extra=()):
    """The result object, and the '# key: value' info lines as a dict."""
    code, last, err, lines = run(workload, extra)
    assert code == 0, f"{workload} {extra}: exit {code}\n{err[-3000:]}"
    out = json.loads(last)
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"], out.keys()
    info = dict(ln[2:].split(": ", 1) for ln in lines[:-1] if ln.startswith("# "))
    return out, {k: json.loads(v) for k, v in info.items()}


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []

    def check(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            problems.append(msg)

    traced = {}
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out, info = result(w, ["--trace", str(trace)])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == want, f"{w} trace={trace}: every {key} metric printed with its unit")
            check(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                  f"{w} trace={trace}: correct, {out['attempted']} attempted, {out['failed']} failed")
            if trace == 0:
                check(all(v["value"] > 0 for v in out["metrics"].values()),
                      f"{w}: every end-to-end metric is non-zero")
            else:
                traced[w] = (out["metrics"], set(info["unmeasured"]))
        bad, _ = result(w, ["--trace", "0", "--corrupt", "1"])
        check(not bad["correct"] and bad["failed"] >= 1,
              f"{w}: a dropped output row is caught ({bad['failed']} of {bad['attempted']} failed)")

    names = [m["name"] for m in spec["per_layer"]]
    unmeasured = [n for n in names if all(n in un for _, un in traced.values())]
    check(not unmeasured, "every per-layer metric is measured on some workload"
          + (f": not {unmeasured}" if unmeasured else ""))
    zero = [n for n in names if not n.endswith(".spill_mb")
            and all(m[n]["value"] == 0 for m, _ in traced.values())]
    check(not zero, "every per-layer metric but spills is non-zero on some workload"
          + (f": zero {zero}" if zero else ""))

    env = dict(os.environ, GRAFT_STITCH_PARTITION="range")
    code, last, err, _ = run("lamp_tiles", ["--trace", "0"], env=env)
    check(code != 0 and not last.startswith("{") and "knobs are set" in err,
          "a set engine knob refuses the run")
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
