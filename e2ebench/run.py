#!/usr/bin/env python3
"""End-to-end benchmark of the importer: hourly import, dashboard serving
and a gate suite, with an optional traced run for per-layer figures.

Usage (from the repository root):

    python3 e2ebench/run.py --workload hourly_import --seed 1 --seconds 15 --trace 0
    python3 e2ebench/run.py --workload all --seed 1 --seconds 15

`--workload all` runs every workload untraced and traced, prints the
issue-level metric names and the tracing overhead (traced minus untraced).

The first run builds the benchmark (an sbt build in this directory that
depends on the engine's build in the parent directory) and caches the
runtime classpath under e2ebench/target/. Each run starts one JVM with
local[nproc], works in a fresh directory under e2ebench/target/work/ and
removes it afterwards. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}. The exit code is non-zero
on any wrong answer or error.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "e2ebench-classpath.json")
WORKLOADS = ["hourly_import", "dashboard_serve", "gate_suite"]
GATE_TABLES = ["events", "customer", "documents", "embeddings"]
RUN_LIMIT_S = 170
# Per-layer metrics of layers a workload does not exercise: they read 0 on
# it. Every other listed per-layer metric must be reported.
NOT_EXERCISED = {
    "hourly_import": ("gate.", "streaming."),
    "dashboard_serve": ("gate.", "streaming.", "ingest.", "pipeline."),
    "gate_suite": ("ingest.", "pipeline.", "serve.", "exec.jobs_per_query"),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the benchmark and the engine; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources (../build.sbt, ../src) are missing; "
             "run from a checkout of the repository")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cp = [ln for ln in lines if "e2ebench" in ln and ln.count(os.pathsep) > 10]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(CLASSPATH, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
    return cp[-1]


def run_jvm(classpath, workload, seed, seconds, trace, deadline):
    """Runs one workload in a fresh JVM and work directory; returns its report."""
    work = os.path.join(TARGET, "work", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    report = os.path.join(work, "report.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "e2ebench.Main",
            workload, str(seed), str(seconds), str(trace), work, report]
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    try:
        with open(report) as fh:
            rep = json.load(fh)
    except (OSError, ValueError):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        rep = None
    if rep is not None and workload == "gate_suite":
        oracle_check(work, seed, rep)
    if rep is None or rep["failed"]:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-20:]))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        os.makedirs(os.path.join(TARGET, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(TARGET, "traces", f"{workload}-{seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return rep


def _cell(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _cell(x) for k, x in sorted(v.items())}
    return v


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, "" if math.isnan(v) else f"{v:.6g}")
        return (1, repr(v))
    return [k(v) for v in row]


def _same(a, b):
    if isinstance(a, float) and isinstance(b, (float, int)) or \
            isinstance(b, float) and isinstance(a, (float, int)):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def oracle_check(work, seed, rep):
    """Compares each gate's result with its DuckDB oracle, as the repo's
    tools/check_oracle.py does: sorted column names, row count, then cells,
    exact for ints, strings and timestamps and within an epsilon for floats.
    """
    import duckdb
    data = os.path.join(work, f"gates_s{seed}")
    out = os.path.join(work, "gate_out")
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in GATE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    try:
        with open(os.path.join(out, "oracle_sql.json")) as fh:
            oracle = json.load(fh)
    except (OSError, ValueError):
        oracle = {}
    raised = {f.split(" ")[0] for f in rep["failures"]}
    gates = sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))) \
        if os.path.isdir(out) else []
    problems = []
    for g in gates:
        if g in raised:
            continue
        if g not in oracle:
            problems.append(f"{g}: no oracle")
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out}/{g}/*.parquet'")
            exp = con.sql(oracle[g])
            gc, ec = got.columns, exp.columns
            if sorted(gc) != sorted(ec):
                problems.append(f"{g}: columns {sorted(gc)} != {sorted(ec)}")
                continue
            cols = sorted(gc)
            grows = [[_cell(r[gc.index(c)]) for c in cols] for r in got.fetchall()]
            erows = [[_cell(r[ec.index(c)]) for c in cols] for r in exp.fetchall()]
            if len(grows) != len(erows):
                problems.append(f"{g}: rows {len(grows)} != {len(erows)}")
                continue
            grows.sort(key=_sort_key)
            erows.sort(key=_sort_key)
            bad = next(((i, c) for i, (a, b) in enumerate(zip(grows, erows))
                        for c, x, y in zip(cols, a, b) if not _same(x, y)), None)
            if bad:
                i, c = bad
                problems.append(f"{g}: row {i} column {c} differs")
        except Exception as e:  # a failing oracle query is a wrong answer
            problems.append(f"{g}: {type(e).__name__}: {str(e)[:200]}")
    missing = [g for g in oracle if g not in gates and g not in raised]
    problems += [f"{g}: no result" for g in missing]
    rep["oracle"] = f"{len(gates)} gate results compared with DuckDB, {len(problems)} differ"
    rep["failed"] += len(problems)
    rep["failures"] += problems


def load_metric_names():
    """The metric names and units BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def print_report(workload, trace, rep):
    print(f"== {workload} (trace {trace}): attempted {rep['attempted']}, "
          f"failed {rep['failed']}")
    for f in rep["failures"][:10]:
        print(f"   wrong: {f}")
    if "oracle" in rep:
        print(f"   oracle: {rep['oracle']}")
    share = rep["failed"] / max(1, rep["attempted"])
    print(f"   ops.failed_share = {share:.6g} ratio")
    for name, m in rep["named"].items():
        print(f"   {name} = {fmt(m['value'])} {m['unit']}")
    for name, m in rep["metrics"].items():
        print(f"   {name} = {fmt(m['value'])} {m['unit']}")


def result_line(rep, workload, wanted, traced):
    metrics = {}
    missing = []
    for name, unit in wanted.items():
        m = rep["metrics"].get(name)
        if m is None and not (traced and name.startswith(NOT_EXERCISED[workload])):
            missing.append(name)
        metrics[name] = {"value": m["value"] if m else 0.0, "unit": unit}
    if missing:
        print(f"   missing metrics: {', '.join(missing)}")
    return {"correct": rep["failed"] == 0 and not missing,
            "attempted": max(1, rep["attempted"]),
            "failed": rep["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    classpath = build()
    e2e, layers = load_metric_names()
    if a.workload == "all":
        bad = 0
        for w in WORKLOADS:
            plain = run_jvm(classpath, w, a.seed, a.seconds, 0, time.time() + RUN_LIMIT_S)
            traced = run_jvm(classpath, w, a.seed, a.seconds, 1, time.time() + RUN_LIMIT_S)
            for t, rep in ((0, plain), (1, traced)):
                if rep is None:
                    print(f"== {w} (trace {t}): no result")
                    bad += 1
                    continue
                print_report(w, t, rep)
                bad += rep["failed"]
            if plain and traced:
                for name, x in plain["metrics"].items():
                    y = traced["metrics"].get(name)
                    if y:
                        print(f"   trace.overhead {name} = {fmt(y['value'] - x['value'])} "
                              f"{x['unit']} (traced minus untraced)")
        sys.exit(1 if bad else 0)
    rep = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, time.time() + RUN_LIMIT_S)
    if rep is None:
        fail(f"{a.workload} produced no result")
    print_report(a.workload, a.trace, rep)
    line = result_line(rep, a.workload, layers if a.trace else e2e, a.trace == 1)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
