#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark and the
program's sources with sbt (offline) into perfbench/target; later runs reuse
that build while the sources are unchanged. Every file a run writes lands
under perfbench/work/<workload>, which is wiped at the start of the run.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0; with
--trace 1 its per-layer metrics, followed by the layer metrics only this
workload exercises).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Fingerprint of every file the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    if p.returncode != 0:
        fail("build failed:\n" + "\n".join(lines[-30:]))
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail(f"build printed no classpath; see {log}")
    with open(CP_FILE, "w") as f:
        f.write(cp[-1])
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp[-1]


def oracle_check(work):
    """Compares the registry funnels' cold-pass results with DuckDB running
    each query's oracle SQL over the same generated tables, exactly as the
    registry's own oracle check does. Returns the names that disagree."""
    import duckdb
    out = os.path.join(work, "oracle")
    with open(os.path.join(out, "oracle.json")) as f:
        spec = json.load(f)
    with open(os.path.join(out, "tables.txt")) as f:
        tables = f.read().strip()
    con = duckdb.connect()
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{tables}/{name}'")

    def norm(v):
        if hasattr(v, "tzinfo") and v.tzinfo is not None:
            return v.replace(tzinfo=None)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        body = [tuple(norm(r[i]) for i in order) for r in rows]
        return sorted(cols), sorted(body, key=lambda r: tuple(str(x) for x in r))

    bad = []
    for q, s in sorted(spec.items()):
        try:
            got = con.execute(f"SELECT * FROM '{out}/{q}/*.parquet'")
        except duckdb.Error as e:
            # the cold pass failed and wrote no result
            ok, why = False, f"no result to check ({e})"
        else:
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            if s["sql"] is None:
                ok = len(grows) == s["rows"]
                why = f"{len(grows)} rows, expected {s['rows']}"
            else:
                exp = con.execute(s["sql"])
                ecols = [d[0] for d in exp.description]
                ok = canon(grows, gcols) == canon(exp.fetchall(), ecols)
                why = "differs from the DuckDB oracle"
        print(f"[perfbench] oracle {q}: {'ok' if ok else 'FAIL ' + why}")
        if not ok:
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["component_jobs", "lake_sql"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src: run from a checkout of the repository")
    if not os.path.exists(spec_path):
        fail(f"missing {spec_path}")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    cp = build()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap: with a growing one, when G1 expands it moves peak RSS
    # by a third between identical runs
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    err_log = os.path.join(work, "jvm-stderr.log")
    result = None
    deadline = time.monotonic() + RUN_TIMEOUT_S
    with open(err_log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line[len("PERFBENCH_RESULT "):])
                else:
                    print(line, end="", flush=True)
                if time.monotonic() > deadline:
                    raise subprocess.TimeoutExpired(cmd, RUN_TIMEOUT_S)
            p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {err_log}", 1)
    if p.returncode != 0 or result is None:
        with open(err_log) as f:
            tail = f.read().splitlines()[-40:]
        fail(f"run failed (exit {p.returncode}):\n" + "\n".join(tail), 1)

    attempted, failed = result["attempted"], result["failed"]
    if a.workload == "lake_sql":
        for q in oracle_check(work):
            # the cold pass and every timed run of the funnel
            failed += 1 + result["ops"].get(q, {}).get("attempted", 0)
    failed = min(failed, attempted)
    m = result["metrics"]
    missing = [n for n in wanted if n not in m or m[n]["value"] is None]
    if missing:
        fail(f"run did not measure {missing}", 1)
    print(f"[perfbench] box_probe_s {result['box_probe_s']} (fixed CPU-only job; normalizes nothing)")
    print(f"[perfbench] error_rate {failed / attempted:.4f} ({failed} of {attempted} ops)")
    out = {n: m[n] for n in wanted}
    if a.trace:
        # the layer rows of the workload's own layers (component.*, v2.*,
        # queries.*, ...), so that later changes can name the one to move
        out.update((n, v) for n, v in m.items()
                   if "." in n and n not in out and v["value"] is not None)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
