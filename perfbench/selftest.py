#!/usr/bin/env python3
"""Self-tests of the benchmark itself, on small scale factors.

    python3 perfbench/selftest.py   (from the root of the repository)

1. Every metric BENCHMARK.json names prints with its unit: end-to-end
   untraced (a run with at least 100 timed queries), per-layer traced.
2. p50 and p90 are omitted from a run with fewer than 100 timed queries.
3. A planted wrong expected value fails the query by name and raises
   the failure count.
4. q36's expected rows (min-label propagation) equal its twin's
   (full transitive closure) on the sf 0.01 reference data set.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run as bench  # noqa: E402
import versions  # noqa: E402


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run.py {' '.join(args)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main():
    e2e, layers = bench.declared_metrics()

    out, _ = run("--workload", "interactive", "--sf", "0.01", "--seed", "11",
                 "--seconds", "25", "--trace", "0")
    check(out["correct"] and out["failed"] == 0, "interactive at sf 0.01 is correct")
    check({k: v["unit"] for k, v in out["metrics"].items()} == e2e,
          "every end-to-end metric prints with its unit")

    out, _ = run("--workload", "refresh", "--sf", "0.001", "--seed", "12",
                 "--seconds", "5", "--trace", "1")
    check(out["correct"], "refresh at sf 0.001 is correct across its versions")
    check({k: v["unit"] for k, v in out["metrics"].items()} == layers,
          "every per-layer metric prints with its unit")

    out, _ = run("--workload", "interactive", "--sf", "0.001", "--seed", "13",
                 "--seconds", "2", "--trace", "0")
    check(set(out["metrics"]) == {"setup_s", "wall_s"},
          "p50 and p90 are omitted below 100 timed queries")

    out, lines = run("--workload", "interactive", "--sf", "0.001", "--seed", "13",
                     "--seconds", "2", "--trace", "0", "--plant-wrong", "q7_match_2hop")
    check(not out["correct"] and out["failed"] >= 1 and
          any(l.startswith("FAILED q7_match_2hop") for l in lines),
          "a planted wrong expected value fails q7 by name")

    classpath, digest = bench.build.build()
    dump = bench.dump_oracles(classpath, digest)
    with tempfile.TemporaryDirectory(dir=bench.OUT) as tmp:
        data = versions.base_dir(0.01)
        q = "q36_user_wcc"
        oracle.expected([data], [q], dump, os.path.join(tmp, "lp"))
        oracle.expected([data], [q], dump, os.path.join(tmp, "twin"), twin_only=True)
        rows = []
        for d in ("lp", "twin"):
            with open(os.path.join(tmp, d, f"{q}.json")) as f:
                rows.append(sorted(map(tuple, json.load(f)["rows"])))
        check(rows[0] == rows[1] and len(rows[0]) > 0,
              "q36 label propagation equals its transitive-closure twin")


if __name__ == "__main__":
    main()
