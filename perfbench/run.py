#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client, one query at a time.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), derives the
workload's data versions from the reference data set and the seed
(perfbench/versions.py), computes
each query's expected rows with its DuckDB twin (perfbench/oracle.py),
runs the client (perfbench/src) on them and prints, as its last stdout
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics untraced, the per-layer metrics traced. The full run record
(per-query times, failures, host evidence) is written under
.bench_build/records/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402
import versions  # noqa: E402
from workloads import FAMILY, WORKLOADS  # noqa: E402

OUT = build.OUT
# A run must end within 180 s. DEADLINE_S (after the build) kills the
# client; past SOFT_DEADLINE_S it starts no new round, so an engine up to
# about twice slower than at this commit still yields figures, from the
# rounds it finished.
DEADLINE_S = 170
SOFT_DEADLINE_S = 130
MIN_PERCENTILE_SAMPLES = 100


def declared_metrics():
    """{name: unit} of the end-to-end and per-layer metrics BENCHMARK.json
    declares; the run prints exactly these."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def nproc():
    return len(os.sched_getaffinity(0))


def git_head():
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def percentile_metrics(walls):
    """p50/p90 of the timed queries; a failed query is infinitely slow, and
    both are omitted below MIN_PERCENTILE_SAMPLES samples."""
    if len(walls) < MIN_PERCENTILE_SAMPLES:
        return {}
    d = statistics.quantiles(walls, n=10)
    return {k: (v if math.isfinite(v) else None)
            for k, v in (("query_p50_s", d[4]), ("query_p90_s", d[8]))}


def plan_rounds(spec, seed, seconds):
    """Seed-shuffled query order of the first-contact pass, the untimed warm
    passes and every timed round. The amount of work is a function of
    --seconds only, so a faster engine finishes sooner."""
    rng = random.Random(seed)

    def shuffled():
        qs = list(spec["queries"])
        rng.shuffle(qs)
        return qs

    first = shuffled()
    warm = sum((shuffled() for _ in range(spec["warm_passes"])), [])
    n = max(1, round(seconds / spec["round_s"]))
    return first, warm, [sum((shuffled() for _ in range(spec["passes"])), [])
                         for _ in range(n)]


def dump_oracles(classpath, digest):
    path = os.path.join(OUT, f"oracles-{digest}.json")
    if not os.path.exists(path):
        subprocess.run(["java", *build.JVM_OPENS, "-cp", classpath,
                        "graftbench.Main", "dump-oracles", path + ".tmp"],
                       check=True, stdout=subprocess.DEVNULL)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def user_edge_count(data_dir, cte):
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
    n = con.sql(f"WITH {cte} SELECT count(*) FROM user_edges").fetchone()[0]
    con.close()
    return n


def prepare_version(v):
    """Writes one data version (version 0 is the reference set itself) and
    its expected rows, both cached; returns its user-graph edge count."""
    done = os.path.join(v["dir"], ".done")
    if v["k"] > 0 and not os.path.exists(done):
        shutil.rmtree(v["dir"], ignore_errors=True)
        versions.version(v["dir"], v["seed"], v["k"], v["sf"])
        open(done, "w").close()
    oracle.expected([v["base"], v["dir"]], v["queries"], v["dump"], v["expected"],
                    threads=v["threads"])
    return user_edge_count(v["dir"], v["dump"]["user_edges_cte"])


def prune(top, keep):
    """Removes every entry of directory `top` but those in `keep`."""
    for d in os.listdir(top) if os.path.isdir(top) else []:
        if os.path.join(top, d) not in keep:
            shutil.rmtree(os.path.join(top, d))


def plant_wrong(exp_dir, query, into):
    """Self-test hook: a copy of `exp_dir` with one expected value of
    `query` changed."""
    shutil.copytree(exp_dir, into)
    p = os.path.join(into, f"{query}.json")
    with open(p) as f:
        d = json.load(f)
    row = d["rows"][0]
    row[0] = (row[0] + 1) if isinstance(row[0], (int, float)) else f"{row[0]}~"
    with open(p, "w") as f:
        json.dump(d, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--plant-wrong", metavar="QUERY",
                    help="self-test: corrupt QUERY's expected rows")
    a = ap.parse_args()
    t_start = time.time()
    total0, steal0 = cpu_times()
    spec = dict(WORKLOADS[a.workload])
    if a.sf:
        spec["sf"] = a.sf
    n = nproc()

    classpath, digest = build.build()
    log(f"built {digest} in {time.time() - t_start:.1f}s")
    t_built = time.time()  # the deadline excludes a first run's build
    dump = dump_oracles(classpath, digest)

    first, warm, rounds = plan_rounds(spec, a.seed, a.seconds)
    swapped = spec.get("swapped")
    # with swapped tables, the untimed passes run on a version of their own,
    # swapped in like a round's, so the clock starts on warm swap paths
    n_versions = 1 + (1 + len(rounds) if swapped else 0)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(OUT, "runs", f"{tag}-{os.getpid()}")
    live = os.path.join(work, "live")
    # Cached data versions are keyed by the reference data and the version
    # generator; expected rows also by the sources the oracle twins were
    # dumped from and by oracle.py. Version 0's rows serve every seed; one
    # seed's later versions are kept at a time.
    base = versions.base_dir(spec["sf"])
    data_key = f"sf{spec['sf']}-{versions.digest(spec['sf'])}"
    data_root = os.path.join(OUT, "data", f"{data_key}-s{a.seed}")
    with open(oracle.__file__, "rb") as f:
        oracle_key = hashlib.sha256(f.read()).hexdigest()[:8]
    exp_root = os.path.join(OUT, "expected", f"{data_key}-{digest}-{oracle_key}")
    prune(os.path.dirname(data_root), {data_root})
    prune(os.path.dirname(exp_root), {exp_root})
    prune(exp_root, {os.path.join(exp_root, d) for d in ("v0", f"s{a.seed}")})
    data = [{"k": k, "seed": a.seed, "sf": spec["sf"], "dump": dump,
             "queries": spec["queries"] if k == 0 else spec["over_swapped"],
             "base": base,
             "dir": base if k == 0 else os.path.join(data_root, f"v{k}"),
             "expected": os.path.join(exp_root, "v0" if k == 0 else f"s{a.seed}/v{k}"),
             "threads": 1 if n_versions > 1 else n,
             "tables": list(versions.TABLES) if k == 0 else swapped}
            for k in range(n_versions)]
    t_prep = time.time()
    edges = [prepare_version(data[0])]
    if n_versions > 1:
        # threads, not processes: DuckDB releases the GIL while it runs, and
        # a run leaves no helper process behind (multiprocessing would start
        # a resource tracker that outlives the run)
        with ThreadPoolExecutor(max_workers=min(4, n)) as pool:
            edges += list(pool.map(prepare_version, data[1:]))
    log(f"prepared {n_versions} data version(s) in {time.time() - t_prep:.1f}s")

    os.makedirs(work, exist_ok=True)
    if a.plant_wrong:
        planted = os.path.join(work, "planted")
        plant_wrong(data[0]["expected"], a.plant_wrong, planted)
        data[0]["expected"] = planted
    plan = {
        "nproc": n, "trace": bool(a.trace),
        "live_dir": live, "families": FAMILY,
        "versions": [{k: v[k] for k in ("dir", "expected", "tables")}
                     for v in data],
        "first_contact": first,
        "untimed_version": 1 if swapped else 0,
        "warm": warm,
        "rounds": [{"version": (i + 2) if swapped else 0, "queries": qs}
                   for i, qs in enumerate(rounds)],
        "soft_deadline_ms": int(1000 * (t_built + SOFT_DEADLINE_S)),
        "record": os.path.join(work, "client.json"),
        "spans": os.path.join(work, "spans.json"),
    }
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the heap of graft.Bench under the engine's sbt build
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java", f"-Xmx{heap}", *build.JVM_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", classpath,
           "graftbench.Main", "run", os.path.join(work, "plan.json")]
    jvm_log = os.path.join(work, "client.log")
    t_jvm = time.time()
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_built)))
        except subprocess.TimeoutExpired:
            with open(jvm_log) as f:
                phases = [l.strip() for l in f if l.startswith("[phase]")]
            sys.exit(f"client exceeded the {DEADLINE_S}s deadline, in "
                     f"{phases[-1] if phases else 'JVM start'}; log: {jvm_log}")
        finally:
            # on every way out (deadline, signal, error) the client is
            # stopped and reaped before run.py exits
            if p.poll() is None:
                p.kill()
                p.wait()
    log(f"client ran in {time.time() - t_jvm:.1f}s (exit {rc})")
    if rc != 0 or not os.path.exists(plan["record"]):
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"client failed with exit code {rc}")
    with open(plan["record"]) as f:
        client = json.load(f)
    if max(edges) >= client["local_max_edges"]:
        sys.exit(f"user graph of {max(edges)} edges is not below the local-kernel "
                 f"gate of {client['local_max_edges']}: not the workload declared")

    timed = client["queries"]
    ran = timed + client["first_contact"] + client["warm"]
    failures = [{"query": q["q"], "round": q["round"], "error": q["error"]}
                for q in ran if "error" in q]
    attempted = len(ran)
    walls = [float("inf") if "error" in q else q["wall"] for q in timed]
    planned = sum(len(r["queries"]) for r in plan["rounds"])
    if len(timed) < planned:
        log(f"soft deadline: {client['rounds_done']} of {len(rounds)} rounds ran; "
            f"wall_s is scaled to the whole plan")
    metrics_e2e = {"setup_s": client["setup_s"],
                   "wall_s": client["wall_s"] * planned / len(timed),
                   **percentile_metrics(walls)}
    total1, steal1 = cpu_times()
    host = {
        "nproc": n,
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "loadavg_1m": os.getloadavg()[0],
        "git_head": git_head(),
        "source_digest": digest,
        "jvm": client.get("jvm"), "spark": client.get("spark"),
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "sf": spec["sf"], "host": host,
        "rounds_planned": len(rounds), "rounds_done": client["rounds_done"],
        "user_edges": edges, "local_max_edges": client.get("local_max_edges"),
        "timed_queries": len(timed), "attempted": attempted,
        "failed": len(failures), "fail_ratio": len(failures) / attempted,
        "failures": failures, "end_to_end": metrics_e2e,
        "layers": client.get("layers"), "swaps_s": client["swaps_s"],
        "check_s": client["check_s"], "setup_parts_s": client["setup_parts_s"],
        "stop_error": client.get("stop_error"),
        "queries": timed, "first_contact": client["first_contact"],
        "run_s": time.time() - t_start,
    }
    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    if a.trace:
        untraced = os.path.join(rec_dir, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                record["trace_overhead_s"] = (client["wall_s"] -
                                              json.load(f)["end_to_end"]["wall_s"])
        shutil.copy(plan["spans"], os.path.join(rec_dir, f"{tag}.spans.json"))
    with open(os.path.join(rec_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for fl in failures:
        print(f"FAILED {fl['query']} (round {fl['round']}): {fl['error']}")
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "timed_queries", "fail_ratio", "user_edges",
        "end_to_end", "host", "run_s")} | (
        {"trace_overhead_s": record["trace_overhead_s"]}
        if "trace_overhead_s" in record else {})))
    end_to_end, per_layer = declared_metrics()
    if a.trace:
        metrics = {k: {"value": client["layers"][k], "unit": u}
                   for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": metrics_e2e[k], "unit": u}
                   for k, u in end_to_end.items() if k in metrics_e2e}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


def _exit_on_signal(signum, _frame):
    # SystemExit unwinds through main's cleanup, which stops the client JVM
    sys.exit(f"stopped by signal {signum}")


if __name__ == "__main__":
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    try:
        main()
    except build.BuildError as e:
        sys.exit(f"build: {e}")
