#!/usr/bin/env python3
"""Repository benchmark: build the engine from source, run one workload on
local[nproc], check its outputs and print one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: timecamp_elt, engine_queries (see
perfbench/README.md). Everything the run builds or writes goes under
.perfbench/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
DEADLINE_S = 170

# generated-table scale per query workload (0.1 = the reference testdata)
SCALE = {"engine_queries": 0.01}
WORKLOADS = ["timecamp_elt", *SCALE]
SETUP_REPS = 3
JAVA_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.sql.session.timeZone=UTC",
    *[a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action",
                  "java.base/sun.util.calendar"]
      for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for base in (ROOT / "src" / "main" / "scala", HERE / "src"):
        yield from sorted(base.rglob("*.scala"))
    yield ROOT / "build.sbt"
    yield HERE / "build.sbt"
    yield HERE / "project" / "build.properties"


def build():
    """Compile engine + harness with sbt when any source changed; return
    the runtime classpath."""
    stamp = hashlib.sha256()
    for f in sources():
        stamp.update(str(f.relative_to(ROOT)).encode())
        stamp.update(f.read_bytes())
    stamp = stamp.hexdigest()
    cp_file = WORK / "classpath.txt"
    if cp_file.exists():
        saved_stamp, cp = cp_file.read_text().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state stays in the checkout too
    sbt_dir = WORK / "sbt"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Dsbt.global.base={sbt_dir / 'global'}",
            f"-Dsbt.boot.directory={sbt_dir / 'boot'}",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    cp = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or "classes" not in cp:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    cp_file.write_text(f"{stamp}\n{cp}\n")
    return cp


def generate(workload, seed):
    """Generate the query workload's tables SETUP_REPS times (each rep is
    part of one timed set-up); return (data dir, seconds per rep, rows)."""
    sys.path.insert(0, str(HERE))
    import gen_tables
    data = WORK / "data" / f"{workload}-{seed}"
    secs = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        shutil.rmtree(data, ignore_errors=True)
        rows = gen_tables.generate(data, seed, SCALE[workload])
        secs.append(time.perf_counter() - t0)
    return data, secs, rows


def oracle_errors(data, out_dir, oracle_sql):
    """Compare every step's parquet output with its DuckDB oracle twin,
    using the compare rules of tools/compare_oracle.py."""
    sys.path.insert(0, str(ROOT / "tools"))
    from compare_oracle import TABLES, rows_of
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
    errors = []
    for name, sql in sorted(oracle_sql.items()):
        out = Path(out_dir) / name
        if not out.exists():
            errors.append(f"{name}: no output")
            continue
        srows, scols = rows_of(pq.read_table(out))
        drows, dcols = rows_of(con.execute(sql).arrow())
        if scols != dcols:
            errors.append(f"{name}: columns {scols} != oracle {dcols}")
        elif len(srows) != len(drows):
            errors.append(f"{name}: {len(srows)} rows != oracle {len(drows)}")
        elif srows != drows:
            errors.append(f"{name}: values differ from the oracle")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", help="duplicate one row of this step's "
                    "checked output, to show the check catches it")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/compare_oracle.py"):
        if not (ROOT / need).exists():
            fail(f"run from the repository root: {need} not found")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cp = build()
    start = time.monotonic()

    jvm_args = []
    data = tables = None
    if a.workload in SCALE:
        data, secs, tables = generate(a.workload, a.seed)
        jvm_args += ["--data", str(data), "--gen-seconds", ",".join(map(str, secs))]
    if a.plant_fault:
        jvm_args += ["--plant-fault", a.plant_fault]
    shutil.rmtree(WORK / "out", ignore_errors=True)
    shutil.rmtree(WORK / "passes", ignore_errors=True)
    result_file = WORK / "result.json"
    result_file.unlink(missing_ok=True)
    log = WORK / "jvm.log"
    with open(log, "w") as lf:
        try:
            r = subprocess.run(
                ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={WORK / 'tmp'}",
                 "-cp", cp, "perfbench.Main",
                 "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", str(WORK), "--result", str(result_file), *jvm_args],
                cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                timeout=max(30, DEADLINE_S - (time.monotonic() - start)))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not result_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM failed ({code})")
    res = json.loads(result_file.read_text())
    errors = list(res["errors"])
    if data is not None:
        errors += oracle_errors(data, res["out"], res["oracle_sql"])
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    keep = WORK / "results"
    keep.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}"
    if tables:
        res["inputs"] = {"sf": SCALE[a.workload], "rows": tables}
    (keep / f"{tag}-trace{a.trace}.json").write_text(json.dumps(dict(res, errors=errors)))
    if a.trace:
        write_trace(tag, res, keep / f"{tag}-trace0.json")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    units = UNITS_LAYER if a.trace else UNITS_E2E
    print(json.dumps({
        "correct": not errors,
        "attempted": res["attempted"],
        "failed": len(errors),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }))


def write_trace(tag, res, untraced):
    """Write the traced run's spans and counters. The tracing overhead is
    this run's pass_s minus that of an untraced run of the same workload
    and seed, when one has been made in this checkout."""
    doc = {"workload": res["workload"], "seed": res["seed"],
           "pass_s_traced": res["end_to_end"]["pass_s"],
           "per_layer": res["per_layer"], "passes": res["trace"]}
    if untraced.exists():
        base = json.loads(untraced.read_text())["end_to_end"]["pass_s"]
        doc["pass_s_untraced"] = base
        doc["trace_overhead_s"] = doc["pass_s_traced"] - base
    (WORK / f"trace-{tag}.json").write_text(json.dumps(doc, indent=1))


UNITS_E2E = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "step_geomean_ms": "ms",
             "heap_retained_mb": "MB", "bytes_per_record": "B"}
UNITS_LAYER = {k: u for u, ks in {
    "ms": ["plan.build_ms", "plan.analysis_ms", "plan.optimizer_ms",
           "plan.physical_ms", "plan.codegen_ms", "driver.gap_ms",
           "exec.cpu_ms", "exec.run_ms", "exec.gc_ms",
           "shuffle.fetch_wait_ms", "sources.serve_ms", "sink.write_ms",
           "report.budget_ms", "report.project_ms"],
    "count": ["sched.jobs", "sched.stages", "sched.tasks", "broadcast.count",
              "materialize.seams", "sources.requests",
              "sources.retries", "sink.files"],
    "B": ["shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
          "broadcast.bytes", "materialize.bytes", "sources.bytes_in",
          "sink.bytes_out"],
    "KB": ["plan.text_kb"],
    "ratio": ["exec.busy_ratio", "rows.examined_per_output"],
}.items() for k in ks}


if __name__ == "__main__":
    main()
