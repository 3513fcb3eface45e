#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, in one JVM.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (perfbench/build.sbt) and keeps the
classpath for later runs; a change to any source rebuilds. The JVM side
(graftbench.Main) runs a warm-up pass, then timed passes for --seconds
seconds, and writes run.json; this script checks the outputs against
DuckDB and prints one JSON line as the last line of stdout. --trace 1
runs with the job-group listener and the streaming progress listener
attached and prints the per-layer metrics instead of the end-to-end ones.

    python3 perfbench/run.py --regen-digests

recomputes the stored DuckDB reference digests (perfbench/digests.json).
See perfbench/README.md for the workloads, metrics and bounds.
"""
import argparse
import functools
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import oracle  # noqa: E402

# Fixed run shape: the core count is pinned, not read from the host.
CORES = 4
HEAP = "2g"
DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.1")
# Per workload: the untimed settling passes after the cold warm-up pass,
# the timed passes every run makes at least, and the highest
# latency percentile that keeps ten operations beyond it at that many
# passes (44 operations on relational, 40 on streaming; see README).
WORKLOADS = {
    "relational": {"settle_passes": 3, "min_passes": 4, "tail_pct": 77},
    "streaming": {"settle_passes": 1, "min_passes": 2, "tail_pct": 75},
}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
DIGESTS = os.path.join(BENCH, "digests.json")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.json")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Build with sbt unless the sources are unchanged since the last build."""
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if ln.strip().endswith(".jar") or "/classes" in ln][-1]
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed-size heap under the stop-the-world parallel collector: G1's
    # concurrent threads compete with the four task threads for four
    # vCPUs, and under it passes ran about 12% slower and took longer to
    # settle (README, Run shape).
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s")
    if rc != 0:
        fail(f"the benchmark JVM exited with code {rc}")


@functools.lru_cache(maxsize=None)
def reference():
    """DuckDB over the test data, opened only when a digest is missing."""
    return oracle.connect(DATA)


def regen_digests():
    run_dir = os.path.join(BENCH, ".runs", "oracles")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    path = os.path.join(run_dir, "oracles.json")
    run_jvm(classpath(), ["--dump-oracles", path], run_dir)
    with open(path) as f:
        sqls = json.load(f)
    con = reference()
    out = {}
    for name in sorted(sqls):
        t0 = time.time()
        rows, dig = oracle.oracle_digest(con, sqls[name])
        out[oracle.sql_key(DATA, sqls[name])] = {"query": name, "rows": rows,
                                           "digest": dig}
        log(f"{name}: {rows} rows in {time.time() - t0:.1f} s")
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def percentile(xs, pct):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, -(-len(s) * pct // 100))
    return s[int(k) - 1]


def check(run):
    """Compare the run's outputs with DuckDB. Returns a list of problems."""
    stored = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            stored = json.load(f)
    refs = {}
    for name, sql in run["oracles"].items():
        ref = stored.get(oracle.sql_key(DATA, sql))
        if ref is None:
            log(f"{name}: no stored digest for its oracle SQL, asking DuckDB")
            rows, dig = oracle.oracle_digest(reference(), sql)
            ref = {"rows": rows, "digest": dig}
        refs[name] = ref
    problems = []
    con = duckdb.connect()
    for name, ref in refs.items():
        d = run["results"].get(name)
        if d is None:
            problems.append(f"{name}: no result to compare with DuckDB")
            continue
        rows, dig = oracle.result_digest(con, d)
        if (rows, dig) != (ref["rows"], ref["digest"]):
            problems.append(f"{name}: result differs from DuckDB "
                            f"({rows} rows vs {ref['rows']})")
    if run["workload"] != "streaming":
        for o in run["ops"]:
            if o["ok"] and o["rows"] != refs[o["name"]]["rows"]:
                problems.append(f"{o['name']} pass {o['pass']}: {o['rows']} "
                                f"rows vs DuckDB {refs[o['name']]['rows']}")
    if run["workload"] == "streaming":
        # every twin's view in the warm-up, the settling and every timed pass
        seen = {(v["query"], v["pass"]) for v in run["views"]}
        for p in [-1, *run["settle_passes"], *range(len(run["pass_s"]))]:
            for q in sorted(run["oracles"]):
                if (q, p) not in seen:
                    problems.append(f"{q} pass {p}: no view of its twin")
    for v in run["views"]:
        if v["rows"] != refs[v["query"]]["rows"]:
            problems.append(f"{v['twin']} pass {v['pass']}: view has "
                            f"{v['rows']} rows vs DuckDB {refs[v['query']]['rows']}")
        if v["counted"] != v["fed"]:
            problems.append(f"{v['twin']} pass {v['pass']}: per-key counts sum "
                            f"to {v['counted']}, {v['fed']} events fed")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen-digests", action="store_true")
    a = ap.parse_args()
    for need in [os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(ROOT, "BENCHMARK.json")]:
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root of a "
                 f"graft checkout")
    if not os.path.isdir(DATA):
        fail(f"test data {DATA} not found (set PERFBENCH_DATA)")
    if a.regen_digests:
        regen_digests()
        return
    if a.workload is None:
        ap.error("--workload is required")
    w = WORKLOADS[a.workload]
    cp = classpath()
    run_dir = os.path.join(BENCH, ".runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--data", DATA, "--out", run_dir, "--cores", str(CORES),
                 "--min-passes", str(w["min_passes"]),
                 "--settle-passes", str(w["settle_passes"])], run_dir)
    with open(os.path.join(run_dir, "run.json")) as f:
        run = json.load(f)

    problems = check(run)
    for p in problems:
        log("CHECK FAILED " + p)
    for f in run["failures"]:
        log(f"FAILED {f['op']} pass {f['pass']}: {f['error']}: {f['message']}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    lat = [o["ms"] for o in run["ops"] if o["ok"] and o["pass"] >= 0]
    if a.trace:
        values = run["layers"]
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": run["setup_s"],
            "pass_s": statistics.median(run["pass_s"]),
            "op_p50_ms": statistics.median(lat) if lat else 0.0,
            "op_tail_ms": percentile(lat, w["tail_pct"]) if lat else 0.0,
            "retained_heap_mb": run["retained_heap_mb"],
        }
        wanted = spec["end_to_end"]
    print(json.dumps({
        "correct": not problems,
        # every operation: warm-up, timed and (streaming) view reads
        "attempted": run["attempted"],
        "failed": len(run["failures"]),
        # a layer the workload does not reach reads 0
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0),
                                "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
