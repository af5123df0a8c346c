#!/usr/bin/env python3
"""Benchmark of record for the graft library.

Usage (from the repository root):
    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 6 --trace 0

Workloads: etl_daily, query_sweep, stream_ingest (see
perfbench/README.md). The first run in a checkout builds the library and
the harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run starts one JVM, generates its
inputs from the seed, sets up, runs an untimed check pass, measures for
--seconds, checks every output, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The full record of the run goes to
.bench_build/results/. The exit code is non-zero if any output check
fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp() -> str:
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(cfg_path, cfg, cores):
    """Compiles the library and the harness once per source state, then
    records the JVM class-data-sharing archive of that build with one
    short query_sweep run. Returns the runtime classpath and the archive.
    Every run maps the archive (-Xshare:on makes a run that cannot map it
    fail): cold JVM start-up is most of a run's fixed cost, and the
    archive cuts it by about five seconds. A build or a recording that
    fails ends the run."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    jsa = os.path.join(BUILD, "target", "classes.jsa")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), jsa
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx4g"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {log}")
    cp = open(cp_file).read().strip()

    if os.path.exists(jsa):
        os.remove(jsa)
    run_dir = os.path.join(BUILD, "runs", "share-archive")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    gen.generate("query_sweep", os.path.join(run_dir, "in"), 0, cfg["workloads"]["query_sweep"], 1)
    run_jvm(cp, cfg_path, "query_sweep", 0, 1, 0, cores, run_dir,
            [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"], 300)
    shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(jsa):
        fail("recording the class-data-sharing archive left no archive")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, jsa


def jvm_command(cp, cfg_path, workload, seed, seconds, trace, cores, run_dir, sharing):
    return (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing", f"-Xmx{driver_heap()}",
             "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}"] + sharing +
            ["-cp", cp, "perfbench.Main",
             "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(trace), "--cores", str(cores), "--dir", run_dir,
             "--config", cfg_path, "--out", os.path.join(run_dir, "result.json")])


def run_jvm(cp, cfg_path, workload, seed, seconds, trace, cores, run_dir, sharing, budget):
    """Runs one benchmark JVM in `run_dir` (inputs already generated) and
    returns its raw result. `sharing` holds the class-data-sharing flags:
    recording the archive, or mapping it."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(jvm_command(cp, cfg_path, workload, seed, seconds, trace, cores, run_dir,
                                           sharing),
                               cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {budget:.0f} s, see {log}", 3)
    res_path = os.path.join(run_dir, "result.json")
    if r.returncode != 0 or not os.path.exists(res_path):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited {r.returncode} without a result", 3)
    return json.load(open(res_path))


def driver_heap() -> str:
    """Half the host's memory in GiB, clamped to [2, 8], as tier-1 sizes it."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def tail(walls, wanted):
    """The highest percentile, at most `wanted`, with at least ten samples
    beyond it (the median when none above it qualifies)."""
    n = len(walls)
    for p in TAIL_PERCENTILES:
        if p <= wanted and n * (100 - p) / 100.0 >= 10:
            break
    else:
        p = 50
    return statistics.quantiles(walls, n=100, method="inclusive")[p - 1] if n > 1 else walls[0], p


def oracle_checks(run_dir: str):
    """Compares each checked query's output with its DuckDB oracle, using
    the canonicalisation of tools/check.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check import TABLES, canon
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    sf = os.path.join(run_dir, "in", "sf")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    check_dir = os.path.join(run_dir, "check")
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    out = []
    for name in sorted(d for d in os.listdir(check_dir) if os.path.isdir(os.path.join(check_dir, d))):
        if name not in oracle:
            continue
        try:
            d = os.path.join(check_dir, name)
            got = pd.concat([pd.read_parquet(os.path.join(d, f)) for f in sorted(os.listdir(d))
                             if f.endswith(".parquet")], ignore_index=True)
            g, e = canon(got), canon(con.execute(oracle[name]).df())
            ok = list(g.columns) == list(e.columns) and len(g) == len(e) and g.equals(e)
            out.append({"name": f"oracle:{name}", "ok": ok, "detail": f"{len(g)} rows vs {len(e)}"})
        except Exception as ex:  # an oracle that cannot run is a failed check
            out.append({"name": f"oracle:{name}", "ok": False, "detail": f"{type(ex).__name__}: {ex}"[:300]})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        fail("run from the repository root: the library sources (build.sbt, src/main/scala/graft) are missing")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cfg_path = os.path.join(HERE, "config.json")
    cfg = json.load(open(cfg_path))
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}")
    wcfg = cfg["workloads"][a.workload]

    cores = min(cfg["cores"], os.cpu_count() or 1)
    cp, jsa = build(cfg_path, cfg, cores)
    build_s = time.time() - t_start

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    g0 = time.time()
    inputs = gen.generate(a.workload, os.path.join(run_dir, "in"), a.seed, wcfg, a.seconds)
    gen_s = time.time() - g0

    res = run_jvm(cp, cfg_path, a.workload, a.seed, a.seconds, a.trace, cores, run_dir,
                  [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on"], budget=160)

    checks = res["checks"] + (oracle_checks(run_dir) if a.workload == "query_sweep" else [])
    ops = res["ops"]
    walls = [o["wall_s"] for o in ops if o["ok"]]
    failed = [o for o in ops if not o["ok"]]
    failed_checks = [c for c in checks if not c["ok"]]
    output_failures = failed_checks + [o for o in failed if o["error"].startswith("perfbench.CheckFailed")]
    correct = not output_failures and len(walls) > 0

    e2e, tail_p = {}, None
    if walls:
        op_tail, tail_p = tail(walls, wcfg["tail_percentile"])
        e2e = {
            "setup_s": statistics.median(res["setup_s"]),
            "throughput": res["items"] / res["busy_s"] if res["busy_s"] > 0 else 0.0,
            "op_p50_s": statistics.median(walls),
            "op_tail_s": op_tail,
            "peak_heap_mb": res["peak_heap_mb"],
        }
    layers = dict(res["layers"])
    if "out_bytes_per_in_byte" in res["diagnostics"]:
        layers["io.out_bytes_per_in_byte"] = res["diagnostics"]["out_bytes_per_in_byte"]
    spec = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}
    not_applicable = [m["name"] for m in spec if m["name"] not in values]

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "workload_config": wcfg, "metrics": metrics, "not_applicable_metrics": not_applicable,
        "end_to_end": e2e, "tail_percentile": tail_p, "op_samples": len(walls),
        "failed_frac": len(failed) / max(1, len(ops)),
        "failed_ops": [{"name": o["name"], "error": o["error"]} for o in failed],
        "failed_checks": failed_checks, "checks": checks,
        "inputs": inputs, "build_s": build_s, "gen_s": gen_s, "wall_s": time.time() - t_start,
        "host": {"nproc": os.cpu_count(), "cores_used": cores, "driver_heap": driver_heap()},
        "class_data_sharing": {"archive": os.path.relpath(jsa, ROOT), "bytes": os.path.getsize(jsa)},
        "run": res,
    }
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    art_path = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for c in failed_checks:
        print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    for o in failed:
        print(f"perfbench: op failed: {o['name']}: {o['error']}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
