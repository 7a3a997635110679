#!/usr/bin/env python3
"""Benchmark of the Bangumi -> JDBC -> Notion sync and an operator-lane mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload sync_delta --seed 1 --seconds 5 --trace 0

Workloads are listed in BENCHMARK.json. The first run in a checkout builds
the program and the benchmark with sbt (offline); later runs reuse the
build while no source file changed. Each run starts two JVMs: a stub JVM
serving the Bangumi and Notion APIs on localhost, and the program's JVM,
which drives the pipeline (or the lanes) through the program's public
entry points. Sync outputs are checked against a model of the seeded
inputs after every pass, outside the timed region; lane outputs are
written once per run, in set-up, and checked against the DuckDB oracle
SQL the program declares for each lane.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json names both lists).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURE = os.path.join(ROOT, "src", "main", "resources", "bangumi", "items.jsonl")
sys.path.insert(0, os.path.join(ROOT, "tools"))  # gen_sf1, check_oracle

# In-grid items per sync; lane table rows, the sizes of the sf0.1 fixture.
SYNC_ITEMS = 2000
LANE_DOCS = 5000
LANE_VECS = 2000
DRIVER_HEAP = "2g"
# Seconds before a default-size run is abandoned; scales with --items.
RUN_LIMIT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if "/perfbench/target/" in ln
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        errors = [ln for ln in proc.stdout.splitlines() if ln.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-40:]) + "\n" + proc.stderr[-2000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def host():
    """nproc, MemTotal and the checkout's sha (with -dirty) for the record."""
    with open("/proc/meminfo") as f:
        mem = next((ln.split()[1] for ln in f if ln.startswith("MemTotal:")), "0")
    try:
        sha = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True).stdout.strip()
        sha += "-dirty" if dirty else ""
    except (OSError, subprocess.CalledProcessError):
        sha = "unknown"
    return f"nproc={os.cpu_count()} mem_total_gb={int(mem) / 2**20:.1f} sha={sha}"


def stop_process(proc, grace=20):
    """Stop a child process and wait until it has ended."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(grace)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def lane_tables(out_dir, seed):
    """Write the lanes' `documents` and `embeddings` tables for `seed`.

    The rows come from tools/gen_sf1.py's generators, the generative
    process measured from the sf0.1 fixture (near-dup families with " dup"
    appended, unlabelled gaussian embeddings with 20 verbatim repeats), at
    sf0.1's row counts.
    """
    import random
    import pyarrow.parquet as pq
    argv, sys.argv = sys.argv, sys.argv[:1]  # gen_sf1 reads its scale from argv
    try:
        import gen_sf1
    finally:
        sys.argv = argv
    gen_sf1.N_DOCS, gen_sf1.N_VECS = LANE_DOCS, LANE_VECS
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    pq.write_table(gen_sf1.gen_documents(rnd), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(gen_sf1.gen_embeddings(rnd), os.path.join(out_dir, "embeddings.parquet"))


def lane_oracle(out_dir, table_dir, expected, stop):
    """Evaluate each lane's DuckDB oracle into `expected` (lane -> frame, or
    error text) once the program has declared the SQL, then write
    `oracle.done` in `out_dir`: the program holds its timed passes until
    then, so the oracle runs alongside set-up, not alongside a measurement."""
    try:
        sql_path = os.path.join(out_dir, "oracle_sql.json")
        while not os.path.exists(sql_path):
            if stop.wait(0.05):
                return
        import duckdb
        con = duckdb.connect(config={"threads": 1})
        for t in os.listdir(table_dir):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(table_dir, t)}')")
        with open(sql_path) as f:
            oracle = json.load(f)
        prev = os.getcwd()
        os.chdir(ROOT)  # oracle SQL names repository fixtures by relative path
        try:
            for name, sql in sorted(oracle.items()):
                try:
                    expected[name] = con.execute(sql).fetchdf()
                except Exception as e:  # a failing oracle is a failed check
                    expected[name] = f"oracle {type(e).__name__}: {e}"
        finally:
            os.chdir(prev)
    finally:
        if os.path.isdir(out_dir):
            open(os.path.join(out_dir, "oracle.done"), "w").close()


def check_lanes(out_dir, expected):
    """Compare each lane's output with its oracle result; returns failures."""
    import pandas as pd
    from check_oracle import cmp_frames
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    bad = []
    for name in names:
        want = expected.get(name, "oracle not evaluated")
        try:
            err = want if isinstance(want, str) else cmp_frames(
                name, pd.read_parquet(os.path.join(out_dir, name)), want)
        except Exception as e:  # an unreadable result is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            bad.append(f"lane {name}: {str(err)[:300]}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--items", type=int, default=SYNC_ITEMS,
                    help="in-grid items per sync (default %(default)s)")
    ap.add_argument("--verbose", action="store_true",
                    help="echo the program's progress lines to stderr")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    for need in (FIXTURE, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"program source missing: {os.path.relpath(need, ROOT)}")

    cp = build()
    limit = RUN_LIMIT_S * max(1.0, args.items / SYNC_ITEMS)
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    procs = []
    expected, stop = {}, threading.Event()
    oracle = threading.Thread(target=lane_oracle, daemon=True, args=(
        os.path.join(work, "lane-out"), os.path.join(work, "lanes"), expected, stop))
    try:
        launched = time.time()
        lanes_dir = os.path.join(work, "lanes")
        if args.workload == "lanes_mix":
            lane_tables(lanes_dir, args.seed)
            oracle.start()
        port_file = os.path.join(work, "stub.port")
        threads = str(os.cpu_count() or 1)
        stub = subprocess.Popen(
            ["java", f"-Xmx{max(512, args.items // 40)}m", "-XX:+UseSerialGC",
             "-Dsun.net.httpserver.nodelay=true",
             f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Stub", FIXTURE,
             str(args.seed), str(args.items), threads, port_file],
            stdin=subprocess.PIPE, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL)
        procs.append(stub)
        jvm = ["java", f"-Xmx{DRIVER_HEAP}", "-XX:ReservedCodeCacheSize=512m",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
               "-Dspark.sql.session.timeZone=UTC"]
        for o in JDK_OPENS:
            jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
        driver_args = [
            f"workload={args.workload}", f"stub={port_file}", f"items={args.items}",
            f"seconds={args.seconds}", f"trace={args.trace}", f"work={work}",
            f"lanes={lanes_dir}", f"launched={int(launched * 1000)}"]
        err_path = os.path.join(work, "driver.err")
        with open(err_path, "w") as err:
            driver = subprocess.Popen(jvm + ["-cp", cp, "perfbench.Driver"] + driver_args,
                                      cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                      stdin=subprocess.DEVNULL, text=True)
            procs.append(driver)
            while not os.path.exists(port_file) and driver.poll() is None:
                if stub.poll() is not None or time.time() > launched + 60:
                    fail("stub did not start")
                time.sleep(0.05)
            try:
                out, _ = driver.communicate(
                    timeout=max(10, limit - (time.time() - launched)))
            except subprocess.TimeoutExpired:
                stop_process(driver)
                fail("run exceeded its time limit:\n" + open(err_path).read()[-4000:])
        lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
        if driver.returncode != 0 or not lines:
            fail("program run failed:\n" + open(err_path).read()[-4000:])
        res = json.loads(lines[-1][len("PERFBENCH "):])
        if args.verbose:
            with open(err_path) as f:
                sys.stderr.write("".join(ln for ln in f if ln.startswith("[perfbench]")))
            print(f"[perfbench] {time.time() - launched:.2f} s program done", file=sys.stderr)
        stub.stdin.close()  # the stub exits at end of input
        try:
            stub.wait(20)
        except subprocess.TimeoutExpired:
            pass  # stopped below

        problems = list(res["problems"])
        failed = res["failed"]
        known = res["known"]
        if args.workload == "lanes_mix":
            oracle.join()
            bad = check_lanes(os.path.join(work, "lane-out"), expected)
            failed += len(bad)
            problems += bad
    finally:
        stop.set()
        for p in procs:
            stop_process(p)
        if oracle.is_alive():
            oracle.join()
        shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        got = res["metrics"].get(m["name"])
        if got is None and not args.trace:
            fail(f"metric {m['name']} missing")
        value = got["value"] if got else 0.0
        if m["name"] == "error_rate":
            value = failed / res["attempted"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        n = got["samples"] if got else 0
        print(f"{m['name']:36s} {value:14.6f} {m['unit']:6s} n={n}")
    for p in problems:
        print(f"problem: {p}")
    walls = [p["wall"] for p in res["passes"] if not p["traced"]]
    print("pass wall/cpu (s): " + " ".join(
        f"{p['wall']:.2f}/{p['cpu']:.2f}{'t' if p['traced'] else ''}" for p in res["passes"]))
    print(f"host: {host()}")
    print(f"untraced wall median {statistics.median(walls):.3f} s; "
          f"known defects counted: {known}")
    print(json.dumps({"correct": failed - known == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
