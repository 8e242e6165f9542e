"""Seeded, output-checked benchmark of the engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), computes the DuckDB oracle results, then runs the harness
(perfbench/src) in one JVM on local[nproc] with shuffle partitions = cores:

* catalog_sf001    - a fixed prefix-stratified subset of catalog.txt over
                     sf0.01-sized tables, whole passes in a closed loop;
* heavy_tail_x10   - the queries of heavy.txt over tables 10x that size;
* station_pipeline - clean -> QA/QC -> merge -> zarr publish -> read back over
                     a half-hourly station year with planted faults.

With --trace 0 it prints the end-to-end metrics, with --trace 1 the per-layer
metrics of listener-traced passes (alternated with untraced ones, whose
difference is trace.overhead_frac). Every metric goes to stdout as one compact
JSON line, then one summary line: {"correct", "attempted", "failed", "metrics"}.
The full record (per operation, checks, host, JVM, Spark, session config) is
written to .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("catalog_sf001", "heavy_tail_x10", "station_pipeline")
CATALOG_SF = 0.01
HEAVY_SF = 0.1
HEAVY_TABLES = ("documents", "embeddings", "events")
N_STATIONS = 6
KEEP_INPUTS = 24
RUN_LIMIT_S = 170


def read_list(name):
    with open(os.path.join(HERE, name)) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def catalog_subset(n=10):
    """A fixed subset of catalog.txt, stratified by query prefix: each prefix
    gets its proportional share of `n` (largest remainder), filled with the
    prefix's names of smallest md5 - never chosen by speed."""
    names = read_list("catalog.txt")
    groups = {}
    for name in names:
        groups.setdefault(re.match(r"[a-z]+", name).group(0), []).append(name)
    quota = {p: n * len(ns) / len(names) for p, ns in groups.items()}
    take = {p: int(q) for p, q in quota.items()}
    for p in sorted(quota, key=lambda p: (int(quota[p]) - quota[p], p))[:n - sum(take.values())]:
        take[p] += 1
    out = []
    for p, ns in groups.items():
        out += sorted(ns, key=lambda x: hashlib.md5(x.encode()).hexdigest())[:take[p]]
    return [f"{x}:-" for x in sorted(out)]


def heavy_list():
    return read_list("heavy.txt")


def oracle(data, queries, oracles, out):
    """DuckDB results of each query that has an oracle, as parquet in `out`."""
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{out}/.tmp'")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for q in queries:
        name = q.split(":")[0]
        dst = os.path.join(out, f"{name}.parquet")
        if name in oracles and not os.path.exists(dst):
            con.execute(f"COPY ({oracles[name]}) TO '{dst}.tmp' (FORMAT PARQUET)")
            os.replace(dst + ".tmp", dst)
    con.close()


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests, summed over this machine's
    CPUs; recorded so a run slowed by a noisy neighbour can be recognised."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def read_tables(workload, rows):
    """The input tables the workload's operations read (rows_per_s counts their rows)."""
    return HEAVY_TABLES if workload == "heavy_tail_x10" else list(rows)


def declared(mode):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end" if mode == 0 else "per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        # every workload of BENCHMARK.json in turn, each printing its own lines
        rc = 0
        for w in [w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]]:
            rc |= subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace)]).returncode
        sys.exit(rc)
    t_begin = time.time()
    root = os.getcwd()
    bdir = os.path.join(root, build.BUILD)
    logs = os.path.join(bdir, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    log = open(os.path.join(logs, tag + ".log"), "w")

    classes = build.build(root, log=log)
    t_built = time.time()
    jvm = build.java_cmd(classes, root)
    meta = os.path.join(classes, "meta")
    if not os.path.exists(os.path.join(meta, "oracles.json")):
        os.makedirs(meta, exist_ok=True)
        subprocess.run(jvm + ["org.apache.spark.perfbench.Bench", "--mode", "oracles",
                              "--out", os.path.join(meta, "oracles.json")],
                       check=True, stdout=log, stderr=log)
    oracles = json.load(open(os.path.join(meta, "oracles.json")))

    # inputs (and their oracle results) are a pure function of (workload,
    # seed), so they are kept for a repeated seed; the oldest are dropped
    data_root = os.path.join(bdir, "data")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + f"{CATALOG_SF} {HEAVY_SF} {N_STATIONS}".encode()).hexdigest()[:8]
    data = os.path.join(data_root, f"{args.workload}-{args.seed}-{key}")
    if os.path.isdir(data_root):
        old = sorted((os.path.getmtime(os.path.join(data_root, d)), d) for d in os.listdir(data_root)
                     if d != os.path.basename(data))
        for _, d in old[:max(0, len(old) - KEEP_INPUTS + 1)]:
            shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
    t0 = time.time()
    if not os.path.exists(os.path.join(data, ".done")):
        shutil.rmtree(data, ignore_errors=True)
        if args.workload == "station_pipeline":
            rows = {"stations": gen.stations(args.seed, N_STATIONS, data)["rows"]}
        else:
            sf = CATALOG_SF if args.workload == "catalog_sf001" else HEAVY_SF
            rows = gen.tables(args.seed, sf, data)
        json.dump(rows, open(os.path.join(data, "rows.json"), "w"))
        open(os.path.join(data, ".done"), "w").close()
    rows = json.load(open(os.path.join(data, "rows.json")))
    input_bytes = sum(os.path.getsize(os.path.join(data, f))
                      for f in os.listdir(data) if f.endswith(".parquet"))
    t_gen = time.time() - t0

    queries = []
    if args.workload == "catalog_sf001":
        queries = catalog_subset()
    elif args.workload == "heavy_tail_x10":
        queries = heavy_list()
    t0 = time.time()
    odir = os.path.join(data, "oracle-" + os.path.basename(classes))
    if queries:
        oracle(data, queries, oracles, odir)
    t_oracle = time.time() - t0

    # a fresh work directory per run, also as the JVM's temporary directory:
    # nothing the engine caches there survives into the next run
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = build.java_cmd(classes, root, tmp=os.path.join(work, "tmp")) + [
                 "org.apache.spark.perfbench.Bench", "--mode", "run",
                 "--workload", args.workload, "--data", data, "--work", work,
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--cores", str(cores), "--rows", str(sum(rows[t] for t in read_tables(args.workload, rows))),
                 "--out", out]
    if queries:
        cmd += ["--queries", ",".join(queries), "--oracle", odir]
    budget = RUN_LIMIT_S - (time.time() - t_built)
    steal0 = cpu_steal_s()
    try:
        subprocess.run(cmd, check=True, stdout=log, stderr=log, timeout=max(budget, 30))
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        print(f"harness failed ({e}); see {log.name}", file=sys.stderr)
        sys.exit(1)
    res = json.load(open(out))
    res["cpu_steal_s"] = cpu_steal_s() - steal0

    res.update({"seed": args.seed, "input_rows": rows, "input_bytes": input_bytes,
                "generate_s": t_gen, "oracle_s": t_oracle, "build_s": t_built - t_begin,
                "run_s": time.time() - t_begin,
                "queries": queries, "failed_frac": res["failed"] / max(res["attempted"], 1)})
    rdir = os.path.join(bdir, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{tag}-{int(time.time())}.json"), "w") as f:
        json.dump(res, f, indent=1)

    # every metric the harness emits must be declared, and every declared
    # metric of this mode must be there
    want = declared(args.trace)
    missing = [k for k in want if res["metrics"].get(k) is None]
    unknown = [k for k in res["metrics"] if k not in {**declared(0), **declared(1)}]
    if missing or unknown:
        print(f"metric names differ from BENCHMARK.json: missing {missing} unknown {unknown}",
              file=sys.stderr)
        sys.exit(1)
    metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in want.items()}
    shutil.rmtree(work, ignore_errors=True)

    for k, m in metrics.items():
        print(json.dumps({"metric": k, "value": m["value"], "unit": m["unit"],
                          "workload": args.workload, "seed": args.seed, "cores": cores}))
    correct = res["failed"] == 0 and all(c["ok"] for c in res["checks"])
    for c in res["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['op']}: {c['why']}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
