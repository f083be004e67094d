#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <bars_etl|analytics_scan>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt, which compiles the engine sources
from ../src together with perfbench/src) when its sources changed, runs one
fresh harness JVM for the workload in a private work directory under
.bench_work/, checks every output (analytics results are diffed against
their DuckDB oracle here, as scripts/check.py does), and prints one JSON
result as the last line of standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bars_etl", "analytics_scan")
ANALYTICS_SF = 0.01
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def build(env):
    """Compile the harness unless the stamp matches the sources' hash."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala/graft")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    want = digest.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed with exit code {proc.returncode}")
    with open(stamp, "w") as fh:
        fh.write(want)
    log(f"build: {time.time() - t0:.1f} s")
    return classes


def content_key(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
    return h.hexdigest()[:32]


def data_key(data_dir):
    """Content hash of a landed table directory (file contents only)."""
    h = hashlib.sha256()
    for base, _, names in sorted(os.walk(data_dir)):
        for n in sorted(names):
            if n.endswith(".parquet"):
                h.update(os.path.relpath(base, data_dir).encode())
                with open(os.path.join(base, n), "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_check(results_dir, cache_dir):
    """Diff every landed key against its DuckDB oracle, exactly as
    scripts/check.py does (columns sorted by name, rows in landed order).
    Oracle answers are cached under a key of (oracle SQL, table content).
    Returns the list of failures."""
    import duckdb
    import pandas as pd
    from pandas.testing import assert_frame_equal
    data_dir = open(os.path.join(results_dir, "data_dir")).read().strip()
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    dkey = data_key(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql(f"SET temp_directory='{os.path.join(cache_dir, 'duckdb_tmp')}'")
    for tbl in ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{tbl}.parquet')")
    fails, built, t0 = [], 0, time.time()
    for name, sql in sorted(oracle.items()):
        try:
            cached = os.path.join(cache_dir, content_key(sql, dkey) + ".pkl")
            if os.path.exists(cached):
                a = pd.read_pickle(cached)
            else:
                t1 = time.time()
                a = con.sql(sql).df()
                a.to_pickle(cached)
                built += 1
                log(f"oracle {name}: {time.time() - t1:.2f} s")
            b = con.sql(f"SELECT * FROM read_parquet("
                        f"'{results_dir}/{name}/*.parquet')").df()
            a = a.reindex(sorted(a.columns), axis=1).reset_index(drop=True)
            b = b.reindex(sorted(b.columns), axis=1).reset_index(drop=True)
            assert sorted(a.columns) == sorted(b.columns), \
                f"columns: oracle={sorted(a.columns)} spark={sorted(b.columns)}"
            assert len(a) == len(b), f"rows: oracle={len(a)} spark={len(b)}"
            assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except Exception as e:  # noqa: BLE001 - every failure is reported
            fails.append(f"oracle {name}: " + str(e).replace("\n", " | ")[:300])
    # the one-time oracle cost, reported on its own line
    print(f"oracle: {len(oracle)} keys, {built} answers built "
          f"({len(oracle) - built} cached) in {time.time() - t0:.2f} s")
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    bench_spec()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    classes = build(env)

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    extra, sizes = [], None
    if args.workload == "analytics_scan":
        # the inputs are generated once, outside the JVM; the JVM's
        # set-up reads them (setup_s), the generation is reported as info
        sys.path.insert(0, HERE)
        import tables
        data = os.path.join(work, "data")
        os.makedirs(data)
        t0 = time.time()
        sizes = tables.land(args.seed, ANALYTICS_SF, data)
        gen_s = time.time() - t0
        extra = ["--data", data]
    cmd = (["java"] + [a for p in ADD_OPENS
                       for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep +
            os.path.join(env["SPARK_HOME"], "jars", "*"),
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work, "--out", out] + extra)
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=work, env=env, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    wall = time.time() - t0
    try:
        if code != 0 or not os.path.exists(out):
            fail(f"harness JVM exited with {code} after {wall:.1f} s")
        res = json.load(open(out))
        errors = list(res["errors"])
        failed = res["failed"]
        if args.workload == "analytics_scan":
            res["info"].update(sf=ANALYTICS_SF, table_rows=sizes,
                               generate_s=round(gen_s, 3))
            # the engine's set-up reads must see every generated row, and
            # every cold-pass result must equal its oracle; a failure of
            # either fails the cold pass, which is one op
            cold = []
            if res["info"]["engine_table_rows"] != sizes:
                cold.append("set-up: engine read "
                            f"{res['info']['engine_table_rows']} rows, "
                            f"generated {sizes}")
            cold += oracle_check(os.path.join(work, "results"),
                                 os.path.join(ROOT, ".bench_cache", "oracle"))
            errors += cold
            if cold:
                failed += 1
                res["per_layer"]["fail_ratio"] = failed / res["attempted"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = dict(res["info"], seed=args.seed, workload=args.workload,
                jvm_wall_s=round(wall, 3), samples=res["samples"])
    print("info: " + json.dumps(info, sort_keys=True))
    for e in errors:
        print(f"check failed: {e}")
    # the metric names and units are those BENCHMARK.json declares; a
    # layer this workload does not exercise reads 0
    spec = bench_spec()["per_layer" if args.trace == "1" else "end_to_end"]
    measured = res["per_layer" if args.trace == "1" else "end_to_end"]
    metrics = {}
    for m in spec:
        if m["name"] in measured:
            metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
        elif args.trace == "1":
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} was not measured")
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and not errors,
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


def bench_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"{path} not found")
    with open(path) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
