#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (sbt, into perfbench/target); later runs reuse the build
while the sources are unchanged. Each run generates its input tables from
the seed (gen.py), runs one workload in one JVM on local[min(4, nproc)],
checks the outputs outside the timed window, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the run attaches the layer tracer and reports the per-layer
metrics instead. A line starting with "report " before it carries every
measured value, the workload-specific end-to-end ones included.
Everything a run writes stays under .bench_work/ in the repository root.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["olap_warm", "segment_ingest"]
SCALE = 0.01
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# End-to-end metrics that apply to some workloads only: printed on the
# report line where measured, not part of the gated set.
REPORT_UNITS = {
    "latency_p90_ms": "ms",
    "error_rate": "ratio",
    "ingest_rows_per_s": "1/s",
    "freshness_p50_ms": "ms",
}
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
    sys.exit(1)


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH that sits in a
    Spark installation (one with a jars/ directory)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return submit.resolve().parent.parent
    fail("Spark not found: set SPARK_HOME")


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the last build saw the same sources."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (src/main/scala) not found; run from the repository root")
    classes = HERE / "target" / "scala-2.13" / "classes"
    stamp_file = HERE / "target" / "perfbench.stamp"
    stamp = source_stamp()
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    log = ROOT / ".bench_work" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "Compile / products"], cwd=HERE,
                            stdout=out, stderr=subprocess.STDOUT, env=env,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log}")
    stamp_file.write_text(stamp)
    return classes


def jvm_command(classes, args):
    jars = spark_home() / "jars"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = Path(args["work"]) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # C1 only: each run is a fresh JVM with a short window, and C2 keeps
    # about two cores compiling Spark's and the generated code through the
    # whole window, which moves timings from run to run
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


# ---------------------------------------------------------------------------
# Oracle check, with the comparison of tools/check.py: columns sorted by
# name, rows by all columns, and only an exact match passes.
# ---------------------------------------------------------------------------

def check_oracles(data_dir, checks):
    """Return (number of ops whose output differs from the oracle, names)."""
    if not checks:
        return 0, []
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import pandas as pd
    from check import TABLES, cmp_col, norm
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected = {}
    wrong, names = 0, []
    for c in checks:
        ok = False
        try:
            if c["name"] not in expected:
                expected[c["name"]] = norm(con.sql(c["sql"]).df())
            exp = expected[c["name"]]
            got = norm(pd.read_parquet(c["dir"]))
            ok = (list(got.columns) == list(exp.columns)
                  and all(cmp_col(got[k], exp[k]) == "exact" for k in got.columns))
        except Exception as e:
            print(f"perfbench: check of {c['name']} failed: {e}", file=sys.stderr)
        if not ok:
            wrong += c["ops"]
            names.append(c["name"])
    return wrong, names


# ---------------------------------------------------------------------------
# Result
# ---------------------------------------------------------------------------

def result(raw, wrong, setup_extra_s, bench, trace):
    """Turn the JVM's measurements into the printed result."""
    measured = dict(raw["metrics"])
    measured["setup_s"] = measured["setup_s"] + setup_extra_s
    attempted = raw["attempted"]
    failed = raw["failed"] + wrong
    measured["error_rate"] = failed / attempted if attempted else 1.0
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(REPORT_UNITS)
    metrics = {}
    if trace:
        # a layer the workload never reaches reports 0
        for m in bench["per_layer"]:
            metrics[m["name"]] = {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
    else:
        for m in bench["end_to_end"]:
            if m["name"] not in measured:
                fail(f"end-to-end metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
    report = {k: {"value": v, "unit": units.get(k, "")} for k, v in measured.items()
              if k in units or k.startswith("setup.")}
    return ({"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}, report)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    bench = spec()
    classes = build()

    work = ROOT / ".bench_work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    t0 = time.perf_counter()
    sys.path.insert(0, str(HERE))
    import gen
    gen.write(str(data), a.seed, SCALE)
    gen_s = time.perf_counter() - t0

    out = work / "result.json"
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "data": data, "work": work / "run", "out": out}
    spans = None
    if a.trace:
        spans = ROOT / ".bench_work" / "spans" / f"{a.workload}-s{a.seed}.jsonl"
        spans.parent.mkdir(parents=True, exist_ok=True)
        args["spans"] = spans
    cmd = jvm_command(classes, args)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload {a.workload} timed out; see {work / 'jvm.log'}")
    if rc != 0 or not out.is_file():
        fail(f"workload {a.workload} failed (rc={rc}); see {work / 'jvm.log'}")
    t_jvm = time.perf_counter()
    raw = json.loads(out.read_text())
    wrong, bad = check_oracles(data, raw["checks"])
    print(f"perfbench: gen {gen_s:.1f}s jvm {t_jvm - t0 - gen_s:.1f}s "
          f"checks {time.perf_counter() - t_jvm:.1f}s", file=sys.stderr)
    res, report = result(raw, wrong, gen_s, bench, a.trace)
    if bad:
        print(f"perfbench: results differ from the oracle: {sorted(set(bad))}",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if res["attempted"] < 1:
        fail("no operation completed inside the timed window")
    print("report " + json.dumps({"workload": a.workload, "seed": a.seed,
                                  "trace": a.trace, "metrics": report,
                                  "spans": str(spans.relative_to(ROOT)) if spans else None}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
