#!/usr/bin/env python3
"""Service benchmark: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload ingest_hourly|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt includes the checkout's
own build); later runs reuse that build until a source file changes. The
workload itself runs in one JVM (Spark local[nproc], and for Kafka mode the
in-process stub broker) through the program's public entry points.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). Lines before it name each figure with its unit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_hourly", "query_mix")
CORPUS = os.path.join(HERE, "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
STAMP = os.path.join(HERE, "target", "classpath.txt")
DEADLINE_S = 170  # the whole run, build excluded, must end within this

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, program and benchmark."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    out = [p for p in tops if os.path.isfile(p)]
    for t in trees:
        for d, dirs, files in os.walk(t):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def build():
    """Compile program + benchmark when any source is newer than the stamp;
    return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT} (build.sbt, src/main/scala)")
    srcs = sources()
    if os.path.isfile(STAMP) and \
            os.path.getmtime(STAMP) >= max(os.path.getmtime(p) for p in srcs):
        return open(STAMP).read().strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln
          and "classes" in ln]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(cp[-1].strip() + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s")
    return cp[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GiB (the Tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    return min(8, max(2, int(ln.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def oracle_check(out_dir):
    """Compare each dumped query result with its DuckDB oracle over the
    same corpus (rows sorted, columns sorted by name, values as text).
    Returns (checked, failure messages)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{CORPUS}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    def norm(cur):
        names = [d[0] for d in cur.description]
        order = sorted(range(len(names)), key=lambda i: names[i])
        rows = sorted(tuple(str(r[i]) for i in order) for r in cur.fetchall())
        return [names[i] for i in order], rows

    fails = []
    for name, sql in sorted(oracle.items()):
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            continue  # the query threw; already counted by the JVM
        try:
            o_cols, o_rows = norm(con.execute(sql))
            s_cols, s_rows = norm(con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'"))
        except Exception as e:  # noqa: BLE001 - any oracle error fails the check
            fails.append(f"{name}: oracle error {e}")
            continue
        if o_cols != s_cols:
            fails.append(f"{name}: columns {s_cols} != oracle {o_cols}")
        elif o_rows != s_rows:
            fails.append(f"{name}: {len(s_rows)} rows differ from oracle's {len(o_rows)}")
    return len(oracle), fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=cores(),
                    help="Spark local[N] threads (default: nproc; 1 for the "
                         "single-thread baseline in REPORT.md)")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = build()
    t0 = time.time()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--work", work, "--corpus", CORPUS])
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=DEADLINE_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish within {DEADLINE_S} s")
        res_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(res_path):
            fail(f"benchmark JVM exited with code {code}")
        res = json.load(open(res_path))
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "query_mix" and os.path.isdir(os.path.join(work, "oracle")):
            _, ofails = oracle_check(os.path.join(work, "oracle"))
            failures += ofails
            failed = min(attempted, failed + len(ofails))
            if "failed_ratio" in res["info"]:
                res["info"]["failed_ratio"]["value"] = failed / attempted
        # the full result (info figures and failures too) for REPORT.md
        keep = os.path.join(HERE, "results")
        os.makedirs(keep, exist_ok=True)
        stem = os.path.join(keep, f"{a.workload}-seed{a.seed}-"
                                  f"{'trace' if a.trace else 'plain'}-c{a.cores}")
        res.update(failures=failures, attempted=attempted, failed=failed)
        with open(stem + ".json", "w") as f:
            json.dump(res, f, indent=1)
        if os.path.isfile(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"[perfbench] FAILED {f}")
    for k, v in list(res["info"].items()) + list(res["metrics"].items()):
        print(f"[perfbench] {k} = {v['value']} {v['unit']}")
    print(f"[perfbench] workload {a.workload} seed {a.seed}: {attempted} checked, "
          f"{failed} failed, {time.time() - t0:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
