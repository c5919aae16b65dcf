#!/usr/bin/env python3
"""graft benchmark: one command for the `serve` and `analytics` workloads.

    python3 perfbench/run.py --workload serve|analytics --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and this package with sbt (perfbench/build.sbt) into perfbench/target and
caches the classpath in .bench_build/, keyed by a hash of the sources;
later runs reuse it. Each run starts one JVM (graftbench.Main) with Spark
as local[<usable cores>], then checks the outputs: store answers against
the benchmark's own model inside the JVM, analytics results against their
DuckDB oracle here.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1. The traced run also leaves one JSON span
per line in .bench_build/work/<workload>/spans.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to ROOT, sorted."""
    pats = ["src/main/scala/**/*", "src/main/resources/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(os.path.relpath(f, ROOT) for f in files)


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"sbt build failed: {e}", 1)
    lines = [l for l in p.stdout.splitlines() if "graftbench" not in l and
             os.path.join("perfbench", "target") in l and ":" in l and " " not in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def fixture():
    """The analytics tables, generated once per version of fixture.py."""
    with open(os.path.join(HERE, "fixture.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(BUILD, f"fixture-{version}")
    marker = os.path.join(out, "done")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "fixture.py"), out], check=True,
                       timeout=120)
        open(marker, "w").close()
    return out


def canonical(con, sql):
    """Rows of a query as sorted, type-tagged tuples, columns by name."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, list):
            return [norm(x) for x in v]
        if isinstance(v, float) and v != v:
            return "nan"
        return (type(v).__name__, v)

    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def oracle_answer(con, fix, sql):
    """The oracle's canonical answer, cached per fixture and SQL text: the
    fixture is fixed, and a pair-join oracle can take ~15 s in DuckDB.
    """
    cache = os.path.join(fix, "oracle", hashlib.sha256(sql.encode()).hexdigest() + ".pickle")
    if os.path.exists(cache):
        with open(cache, "rb") as fh:
            return pickle.load(fh)
    ans = canonical(con, sql)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "wb") as fh:
        pickle.dump(ans, fh)
    os.replace(cache + ".tmp", cache)
    return ans


def check_analytics(results, fix):
    """Each query's result against its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(fix, t)}.parquet')")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    failures = []
    for q in sorted(d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d))):
        files = sorted(glob.glob(os.path.join(results, q, "*.parquet")))
        if not files:
            failures.append(f"{q}: no result files")
            continue
        got = canonical(con, f"SELECT * FROM read_parquet({files!r})")
        if q in oracles:
            if got != oracle_answer(con, fix, oracles[q]):
                failures.append(f"{q}: differs from its DuckDB oracle")
        else:
            failures.append(f"{q}: no oracle")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        die(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    classpath = build()
    fix = fixture()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work, "--fixture", fix]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    try:
        p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, text=True,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"the {a.workload} run did not finish within {JVM_TIMEOUT_S} s", 1)
    raw = [l for l in p.stdout.splitlines() if l.startswith("GRAFTBENCH ")]
    if p.returncode != 0 or not raw:
        die(f"the {a.workload} run failed (exit {p.returncode})", 1)
    out = json.loads(raw[-1][len("GRAFTBENCH "):])

    failed = out["failed"]
    if a.workload == "analytics":
        failures = check_analytics(os.path.join(work, "analytics_results"), fix)
        for f in failures:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        failed += len(failures)

    declared = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = out["layer"] if a.trace else out["e2e"]
    metrics = {}
    for m in declared:
        if m["name"] in values:
            v = values[m["name"]]
        elif a.trace and any(m["name"].startswith(b) for b in out["bypassed"]):
            v = 0.0  # a layer this workload does not exercise
        else:
            die(f"the run did not report {m['name']}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<44} {v:>16.6g} {m['unit']}")
    print(f"failed/attempted: {failed}/{out['attempted']}")
    print(json.dumps({"correct": failed == 0, "attempted": out["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
