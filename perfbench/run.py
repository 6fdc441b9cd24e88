#!/usr/bin/env python3
"""The graft benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the library and the benchmark's JVM
side with sbt (offline; skipped when the sources are unchanged since the
last build), generates the workload's inputs from the seed, runs the
workload in one JVM, checks the outputs and prints, as the last stdout line,
`{"correct", "attempted", "failed", "metrics"}`. The line before it is the
full record, tagged `"record": "graftbench.detail"`: host telemetry, sample
counts and every number the JVM reported. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("bridge_steady", "bridge_backfill", "analytics_batch")
# analytics_batch input size, as a multiple of the 0.01 fixture scale.
ANALYTICS_SCALE = 0.1
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the library sources (src/main/scala) "
                         "are not in this checkout; nothing to build")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("building with sbt (first run in this checkout)")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cps = [l for l in r.stdout.splitlines()
           if l.startswith("/") and l.count(":") > 3]
    if not cps:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: sbt printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1]


# ------------------------------------------------------------ host telemetry

def loadavg():
    with open("/proc/loadavg") as fh:
        f = fh.read().split()
    return float(f[0]), float(f[1])


def cpu_jiffies():
    """(steal, total) over the first 8 /proc/stat cpu fields: user .. steal.
    guest and guest_nice are already inside user and nice, so summing them
    again would count guest time twice."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def steal_pct(a, b):
    return 100.0 * (b[0] - a[0]) / (b[1] - a[1]) if b[1] > a[1] else 0.0


def host_sample():
    a = cpu_jiffies()
    time.sleep(0.25)
    b = cpu_jiffies()
    l1, l5 = loadavg()
    return {"load1": l1, "load5": l5, "steal_pct": round(steal_pct(a, b), 2)}, b


# ------------------------------------------------------------------ oracle

def oracle_check(data_dir, out_dir):
    """Compare each key's result with its DuckDB oracle the way
    tools/check.py compares (same normalisation and cell equality)."""
    import duckdb
    import glob
    import pyarrow.parquet as pq
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    chk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(chk)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, 'duck_tmp')}'")
    con.execute("SET threads = 2")
    for t in chk.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for key, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{out_dir}/{key}/*.parquet"))
        if not files:
            bad[key] = ["no spark output"]
            continue
        st = pq.read_table(files)
        try:
            dt = con.sql(sql).arrow()
        except Exception as e:  # an oracle that cannot run is a failure
            bad[key] = [f"duckdb error: {e}"]
            continue
        issues = chk.int_family_issues(st.schema, dt.schema)
        issues += chk.compare(key, st.to_pandas(), dt.to_pandas())
        if issues:
            bad[key] = issues[:3]
    return sorted(oracle), bad


# -------------------------------------------------------------------- run

def run_jvm(cp, args, work, data_dir, data_rows):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cpus", str(cpus())]
    if data_dir:
        cmd += ["--data", data_dir, "--data-rows", str(data_rows)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the workload JVM timed out")
    recs = [l for l in out.splitlines() if '"record":"graftbench.jvm"' in l]
    if p.returncode != 0 or not recs:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: the workload JVM failed ({p.returncode})")
    return json.loads(recs[-1])


def analytics_data(seed):
    sys.path.insert(0, HERE)
    import datagen
    dest = os.path.join(WORK, "data", f"seed-{seed}-scale-{ANALYTICS_SCALE}")
    manifest = os.path.join(dest, "rows.json")
    if not os.path.exists(manifest):
        shutil.rmtree(dest, ignore_errors=True)
        rows = datagen.generate(dest, seed, ANALYTICS_SCALE)
        with open(manifest, "w") as fh:
            json.dump({"rows": rows}, fh)
    with open(manifest) as fh:
        return dest, json.load(fh)["rows"]


def primary(workload, e2e):
    """The end-to-end number tracing overhead is read on, as a cost (higher
    is worse)."""
    if workload == "bridge_steady":
        return e2e["latency_p50_ms"]
    return 1.0 / e2e["rows_per_s"] if e2e.get("rows_per_s") else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp = build()
    data_dir, data_rows = (analytics_data(args.seed)
                           if args.workload == "analytics_batch" else ("", 0))
    work = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    host_start, j0 = host_sample()
    t0 = time.time()
    rec = run_jvm(cp, args, work, data_dir, data_rows)
    wall = time.time() - t0
    host_end, j1 = host_sample()
    host = {"start": host_start, "end": host_end,
            "steal_pct_run": round(steal_pct(j0, j1), 2), "cpus": cpus()}

    violations = list(rec["violations"])
    failed = int(rec["failed"])
    attempted = int(rec["attempted"])
    oracle_bad = {}
    if args.workload == "analytics_batch":
        checked, oracle_bad = oracle_check(data_dir, os.path.join(work, "oracle"))
        missing = set(rec["info"]["failed_keys"]) | set(oracle_bad)
        failed = len(missing)
        if len(checked) != attempted:
            violations.append(f"{len(checked)} oracle queries for {attempted} keys")
    correct = not violations and failed == 0

    e2e = rec["e2e"]
    hist = os.path.join(WORK, f"untraced-{args.workload}.jsonl")
    layers = dict(rec["layers"])
    if args.trace == 0 and correct:
        with open(hist, "a") as fh:
            fh.write(json.dumps(e2e) + "\n")
    if args.trace == 1:
        base = []
        if os.path.exists(hist):
            with open(hist) as fh:
                base = [primary(args.workload, json.loads(l)) for l in fh if l.strip()]
            base = [b for b in base if b]
        now = primary(args.workload, e2e)
        layers["trace.overhead_pct"] = (
            100.0 * (now / statistics.median(base) - 1.0) if base and now else 0.0)
        layers["trace.untraced_runs"] = float(len(base))
        trace_file = os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl")
        if os.path.exists(trace_file):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(trace_file, os.path.join(WORK, "traces"))

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in names}
    detail = {"record": "graftbench.detail", "workload": args.workload,
              "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "wall_s": round(wall, 3), "host": host, "violations": violations,
              "oracle_failures": oracle_bad, "jvm": rec}
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
