#!/usr/bin/env python3
"""Benchmark of the Kafka-shaped word-count pipeline and the iterative
registry rows.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

The first run builds the repository and the benchmark from source with
sbt (offline). Each run starts one JVM (perfbench.Main) that generates
the workload's inputs from the seed, measures for the given seconds and
checks its outputs; registry results are then compared with their
DuckDB oracles here. The last line of standard output is the result as
JSON; the full report, with spans when traced, is kept under
perfbench/results/. Workloads and metrics are declared in
BENCHMARK.json; LAYERS.md maps each layer metric to the end-to-end
metric it should move.
"""
import argparse
import hashlib
import json
import math
import re
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")
# a run must end within 180 s; the JVM gets what is left of it
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
# DuckDB inlines a CTE at each reference, so an oracle whose rounds each
# read the previous round twice (dbscan's, golden record's, dedup's)
# evaluates its first rounds exponentially often: dbscan's took 8-15 s
# on 500 points. MATERIALIZED evaluates each CTE once and gives the
# same rows (checked on the sf0.01 fixture for all five oracles).
CTE = re.compile(r"\b(\w+) AS \(")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Builds once per source state; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} next to perfbench/: run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"build timed out; see {log_path}")
        log.write(out)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        die(f"build failed; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def cpu_times():
    """Jiffies per state from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return None


def cpu_shares(before, after):
    """Busy and steal shares of all CPUs between two samples: steal is
    time the hypervisor gave to other guests, which a benchmark cannot
    see otherwise."""
    if before is None or after is None:
        return {}
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    idle = d[3] + d[4]
    return {"cpu_busy_share": (total - idle) / total,
            "cpu_steal_share": d[7] / total}


def run_jvm(cp, args, work, out, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # temporary files and extracted native libraries stay in the work
    # directory, and no perf-data file is kept: a run writes only inside
    # the checkout
    cmd += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(budget_s, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return f"JVM exceeded its {budget_s:.0f} s budget"
    if not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        return f"JVM exited {proc.returncode} without a report:\n{tail}"
    return None


def oracle_checks(out_dir):
    """Registry results against their DuckDB oracle SQL: same columns,
    same multiset of rows (the compare of the repository's oracle gate).
    """
    import duckdb
    with open(os.path.join(out_dir, "tables.json")) as fh:
        tables = json.load(fh)
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables['dir']}/{t}.parquet/*.parquet'")

    def canon(rows):
        return sorted(rows, key=lambda r: tuple(
            "\x00" if v is None else repr(v) for v in r))

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return a == b or (math.isnan(a) and math.isnan(b))
        return a == b

    def check(item):
        name, sql = item
        t0 = time.monotonic()
        try:
            path = f"'{out_dir}/{name}/*.parquet'"
            cols = sorted(con.sql(f"SELECT * FROM {path}").columns)
            got = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols)
                          + f" FROM {path}").fetchall()
            rel = con.sql(CTE.sub(r"\1 AS MATERIALIZED (", sql))
            want_cols = sorted(rel.columns)
            idx = [rel.columns.index(c) for c in want_cols]
            want = [tuple(r[i] for i in idx) for r in rel.fetchall()]
        except Exception as e:  # a failing oracle is a failed check
            return (f"{name} matches its DuckDB oracle", False,
                    f"error: {e}")
        if cols != want_cols:
            ok, detail = False, f"columns {cols} != {want_cols}"
        elif len(got) != len(want):
            ok, detail = False, f"rows {len(got)} != {len(want)}"
        else:
            bad = [i for i, (x, y) in enumerate(zip(canon(got), canon(want)))
                   if not all(same(p, q) for p, q in zip(x, y))]
            ok = not bad
            detail = f"{len(got)} rows" + (f", first diff at {bad[0]}"
                                           if bad else "")
        detail += f" ({time.monotonic() - t0:.1f} s)"
        return (f"{name} matches its DuckDB oracle", ok, detail)

    return [check(item) for item in sorted(oracle.items())]


# What each registry row's checked output says about the work it did:
# a row that degenerates (no core points, no duplicates, one task doing
# everything) shows here, seed by seed.
WORK_SQL = {
    "dbscan_cluster": "SELECT count(*) FILTER (role = 'core') AS core, "
                      "count(*) FILTER (role = 'border') AS border, "
                      "count(*) FILTER (role = 'noise') AS noise, "
                      "count(DISTINCT cluster) FILTER (role = 'core') "
                      "AS clusters FROM t",
    "graph_communities": "SELECT count(*) AS nodes, count(DISTINCT "
                         "community) AS communities FROM t",
    "golden_record_capped": "SELECT count(*) AS golden_records, "
                            "sum(n_members) AS members, max(n_members) "
                            "AS largest FROM t",
    "dedup_corpus": "SELECT count(*) AS documents, count(*) FILTER (NOT "
                    "kept) AS dropped, count(DISTINCT canonical_id) AS "
                    "clusters FROM t",
    "copurchase_topk": "SELECT count(*) AS pairs, count(DISTINCT item_a) "
                       "AS items, max(n_co) AS max_co FROM t",
}


def work_done(out_dir):
    import duckdb
    con = duckdb.connect()
    work = {}
    for name, sql in WORK_SQL.items():
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        rel = con.sql(sql.replace("FROM t", f"FROM '{path}/*.parquet'"))
        work[name] = {c: int(v or 0)
                      for c, v in zip(rel.columns, rel.fetchone())}
    return work


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}")
    cp = build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(work, "report.json")
    try:
        cpu0 = cpu_times()
        err = run_jvm(cp, args, work, out,
                      DEADLINE_S - (time.monotonic() - started))
        shares = cpu_shares(cpu0, cpu_times())
        report = {"attempted": 1, "failed": 1, "errors": [err],
                  "checks": [], "metrics": {}, "layers": {}, "extras": {}}
        if err is None:
            with open(out) as fh:
                report = json.load(fh)
            report["info"].update(shares)
        oracle_dir = os.path.join(work, "out")
        if err is None and os.path.exists(
                os.path.join(oracle_dir, "oracle_sql.json")):
            t0 = time.monotonic()
            for name, ok, detail in oracle_checks(oracle_dir):
                report["checks"].append(
                    {"name": name, "ok": ok, "detail": detail})
                report["attempted"] += 1
                report["failed"] += 0 if ok else 1
            report["info"]["phase_s"]["oracle"] = time.monotonic() - t0
            report["info"]["work"] = work_done(oracle_dir)
        saved = os.path.join(
            RESULTS,
            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(saved, "w") as fh:
            json.dump(report, fh, indent=1)
        shutil.copy(os.path.join(work, "jvm.log"),
                    saved[:-len(".json")] + ".log")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every end-to-end metric untraced, every layer metric traced; a layer
    # this workload does not run reads 0
    measured = dict(report["metrics"])
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        pool = {**report.get("extras", {}), **report.get("layers", {})}
        metrics = {n: pool.get(n, {"value": 0.0, "unit": u})
                   for n, u in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        metrics = {n: measured[n] for n, _ in names if n in measured}
    correct = (report["failed"] == 0 and
               all(c["ok"] for c in report["checks"]) and
               len(metrics) == len(names))

    print(f"workload {args.workload} seed {args.seed} "
          f"seconds {args.seconds} trace {args.trace}")
    info = report.get("info", {})
    for k in ("nproc", "load_before", "load_after", "cpu_busy_share",
              "cpu_steal_share", "generator_late_ms", "phase_s"):
        if k in info:
            print(f"  {k}: {json.dumps(info[k])}")
    for row, w in info.get("work", {}).items():
        print(f"  work {row}: {json.dumps(w)}")
    for section in ("metrics", "extras"):
        for n, m in report.get(section, {}).items():
            print(f"  {n} = {m['value']:.6g} {m['unit']}")
    for c in report["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: "
              f"{c['detail'][:200]}")
    for e in report.get("errors", []):
        print(f"  error: {str(e)[:500]}")
    print(f"  failed {report['failed']} of {report['attempted']} attempted "
          f"(share {report['failed'] / max(report['attempted'], 1):.3g})")
    print(f"  report: {os.path.relpath(saved, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
