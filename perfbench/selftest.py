"""Self-tests of the benchmark, run by `python3 perfbench/run.py --selftest`.

1. The metric names and units the benchmark prints are those BENCHMARK.json
   declares (end-to-end and per-layer), and the JSON keeps to its limits.
2. The generator gives the same events for the same seed and other events
   for another seed, and the per-batch DLQ count does not depend on the seed
   (perfbench.SelfTest, no Spark session needed).
3. A wrong expected row injected into the stream model is caught: the run
   reports correct=false, counts a failed batch, and exits non-zero.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main(cp, run_java):
    failures = []

    def check(what, cond):
        print(f"SELFTEST {'ok' if cond else 'FAIL'} {what}", flush=True)
        if not cond:
            failures.append(what)

    import run as runmod
    p = subprocess.run(["java"] + runmod.JAVA_OPTS + ["-cp", cp, "perfbench.SelfTest"],
                       capture_output=True, text=True, cwd=ROOT)
    printed = {"end_to_end": [], "per_layer": []}
    for line in p.stdout.splitlines():
        if line.startswith("METRIC "):
            _, kind, name, unit = line.split(" ")
            printed[kind].append((name, unit))
        elif line.startswith("SELFTEST "):
            print(line, flush=True)
            if not line.startswith("SELFTEST ok"):
                failures.append(line)
    check("perfbench.SelfTest exits 0", p.returncode == 0)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for kind in ("end_to_end", "per_layer"):
        declared = [(m["name"], m["unit"]) for m in spec[kind]]
        check(f"{kind} names and units match BENCHMARK.json", declared == printed[kind])
    check("setup_s is declared with unit s, lower, and the largest bound",
          any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
              and m["bound"] == max(x["bound"] for x in spec["end_to_end"])
              for m in spec["end_to_end"]))
    check("bounds are at most 0.25", all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]))
    check("workloads match run.py", [w["name"] for w in spec["workloads"]] == list(runmod.WORKLOADS))

    code, result = run_java(["--workload", "cdc_backfill", "--seed", "5", "--seconds", "2",
                             "--trace", "0", "--inject-wrong-row", "1"])
    out = json.loads(result) if result else {}
    check("an injected wrong expected row is counted as a failure",
          code == 0 and out.get("correct") is False and out.get("failed", 0) >= 1)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit("run through: python3 perfbench/run.py --selftest")
