#!/usr/bin/env python3
"""Benchmark of the EDINET ETL and a fixed sample of the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_dedup_heavy --seed 1 --seconds 20 --trace 0

It builds the program and the harness from source when they changed
(sbt, offline, outputs under .bench_build/ and the sbt target dirs),
starts one JVM that generates the inputs from the seed, sets up, measures
for --seconds and checks every output, then checks the query results
against their DuckDB oracles in the canonical form of tools/check.py.
The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json, or with --trace 1 its
per-layer metrics). Spans of a traced run are kept under
.bench_build/traces/. Exits non-zero, after printing the result, when an
output is wrong.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
CDS = os.path.join(BUILD, "classes.jsa")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HEAP = "2g"


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
              if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless nothing changed."""
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # keep sbt's own scratch files inside the checkout
    local = [f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
             f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}", "-XX:-UsePerfData"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS") or " ".join(opts)] + local))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt')}", "writeLaunch"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(3, f"build timed out; see {log}")
    if r.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        die(3, f"build failed; see {log}")
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), LAUNCH)
    # A class-data archive of one short run makes every later JVM start
    # faster; it belongs to this build's classpath.
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(BUILD, "work", "cds")
    r = run_jvm([f"-XX:ArchiveClassesAtExit={CDS}"], "etl_parse_heavy", 0, 1, 0, work,
                os.path.join(BUILD, "cds.log"), BUILD_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if r != 0 or not os.path.exists(CDS):
        die(3, "class-data archive run failed; see .bench_build/cds.log")
    with open(STAMP, "w") as fh:
        fh.write(want)


def run_jvm(extra, workload, seed, seconds, trace, work, log, limit):
    """Run one benchmark JVM; returns its exit code, or None on timeout."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    launch = [x for x in open(LAUNCH).read().split("\n") if x]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + extra + launch
           + ["perfbench.Main", workload, str(seed), str(seconds), str(trace),
              work, DATA, os.path.join(work, "result.json")])
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def load_checker():
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_result(ck, con, sql):
    """The oracle's canonical result and column types. They depend only on
    the SQL and the bundled tables, so they are kept under .bench_build
    and computed once per checkout."""
    h = hashlib.sha256(sql.encode())
    for t in sorted(os.listdir(DATA)):
        h.update(f"{t}:{os.path.getsize(os.path.join(DATA, t))}".encode())
    path = os.path.join(BUILD, "oracle", h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return ck.pd.read_pickle(path)
    res = (ck.canon(con.execute(sql).df()), ck.types_of(con, sql))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ck.pd.to_pickle(res, path)
    return res


def oracle_check(qout):
    """Compare each written query result with its DuckDB oracle, as
    tools/check.py does. Returns (checked, failures)."""
    ck = load_checker()
    con = ck.duckdb.connect()
    for t in ck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    oracles = json.load(open(os.path.join(qout, "oracle_sql.json")))
    failures = []
    for name, sql in sorted(oracles.items()):
        got_sql = f"SELECT * FROM '{qout}/{name}/*.parquet'"
        if not os.path.isdir(os.path.join(qout, name)):
            failures.append(f"{name}: no output written")
            continue
        e, e_types = oracle_result(ck, con, sql)
        g = ck.canon(con.execute(got_sql).df())
        status = ck.type_gate(ck.types_of(con, got_sql), e_types)
        if list(g.columns) != list(e.columns):
            status.append(f"COLS got={list(g.columns)} exp={list(e.columns)}")
        elif len(g) != len(e):
            status.append(f"ROWS got={len(g)} exp={len(e)}")
        else:
            try:
                ck.pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            except AssertionError as ex:
                status.append("VALUES " + str(ex).split("\n")[0])
        if status:
            failures.append(f"{name}: " + " | ".join(status))
    con.close()
    return len(oracles), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(2, f"no program sources under {ROOT} (run from the root of a checkout)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(2, f"unknown workload {a.workload}")
    build()
    t_run = time.time()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    result_file = os.path.join(work, "result.json")
    log = os.path.join(BUILD, "jvm.log")
    limit = RUN_LIMIT_S - (t_run - t_start) if t_run - t_start < 60 else RUN_LIMIT_S
    rc = run_jvm([f"-XX:SharedArchiveFile={CDS}"], a.workload, a.seed, a.seconds, a.trace,
                 work, log, max(30, limit - 10))
    if rc is None:
        die(4, f"run exceeded its time limit; see {log}")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(4, f"benchmark JVM failed (exit {rc}); see {log}")

    t_jvm = time.time()
    res = json.load(open(result_file))
    errors = list(res.pop("errors"))
    identity = res.pop("ingest_identity")
    checked, failures = oracle_check(os.path.join(work, "qout"))
    res["attempted"] += checked
    res["failed"] += len(failures)
    errors += [f"oracle: {f}" for f in failures]
    res["correct"] = res["failed"] == 0
    if a.trace:
        res["metrics"]["failed_frac"]["value"] = res["failed"] / res["attempted"]
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in sorted(os.listdir(work)):
            if f.startswith("spans-"):
                shutil.copyfile(os.path.join(work, f),
                                os.path.join(traces, f"{a.workload}-seed{a.seed}-{f}"))
    shutil.rmtree(work, ignore_errors=True)

    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(names) != sorted(res["metrics"]):
        die(5, f"metrics {sorted(res['metrics'])} do not match BENCHMARK.json {sorted(names)}")
    res["metrics"] = {n: res["metrics"][n] for n in names}

    print(f"perfbench: build check {t_run - t_start:.1f} s, JVM {t_jvm - t_run:.1f} s, "
          f"checks {time.time() - t_jvm:.1f} s", file=sys.stderr)
    for n, m in res["metrics"].items():
        print(f"{n:32s} {m['value']:.6g} {m['unit']}")
    print(f"ingest identity: {identity}")
    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()
    if not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
