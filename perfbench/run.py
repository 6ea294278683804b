#!/usr/bin/env python3
"""p6spark benchmark: one workload, one seed, one JSON summary line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source (sbt, offline) into perfbench/target; later runs
reuse that build while the sources are unchanged. Each run then

  1. generates its parquet inputs from the seed (perfbench/gendata.py),
  2. runs the JVM side (graft.perfbench.Main) in a fresh run directory
     under perfbench/.work, with java.io.tmpdir and spark.local.dir inside
     it, so no store or cache survives from an earlier run,
  3. checks the first pass's registry outputs against their DuckDB
     oracles (sql_battery, llm_dedup); the JVM checks the P6 CLI output
     and the streaming pair log itself,
  4. prints the summary as the last line of stdout: the end-to-end
     metrics of BENCHMARK.json with --trace 0, the per-layer metrics with
     --trace 1. Per-entry detail goes to the run log, spans to
     perfbench/.work/traces.

The exit code is 0 when every output check passed, 1 when one failed
(the summary is still printed) and 2 when the run could not be made.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 170
GEN_REPS = 3

# Parquet input size per workload (gendata.tables arguments).
DATA = {
    "sql_battery": dict(sf=0.01, docs=500, vecs=500),
    "llm_dedup": dict(sf=0.001, docs=300, vecs=300),
    "stream_containment": dict(sf=0.001, docs=300, vecs=10),
    "p6_parse_excel": None,
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark distribution whose jars the program builds and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution found: set SPARK_HOME")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles the program and the benchmark unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources under {ROOT}/src/main/scala; run from a p6spark checkout")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    os.makedirs(WORK, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts), SPARK_HOME=spark_home())
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                            env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


def median_setup(fn):
    times = []
    for _ in range(GEN_REPS):
        t0 = time.monotonic()
        fn()
        times.append(time.monotonic() - t0)
    return statistics.median(times)


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def oracle_check(data_dir, out_dir, oracles, log):
    """Compares each entry's first-pass parquet with its DuckDB oracle:
    columns sorted by name, rows sorted, floats to 10 significant digits.
    Returns (checked, failed)."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')")
    failed = 0
    for name, sql in sorted(oracles.items()):
        path = os.path.join(out_dir, name)
        try:
            sdf = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
            if sql is None:
                verdict = "pass (no oracle: result read back)" if len(sdf.columns) else "FAIL no columns"
            else:
                odf = con.execute(sql).fetchdf()
                scols, ocols = sorted(sdf.columns), sorted(odf.columns)
                if scols != ocols:
                    verdict = f"FAIL schema {scols} != {ocols}"
                else:
                    srows = sorted(tuple(norm(v) for v in r) for r in sdf[scols].itertuples(index=False, name=None))
                    orows = sorted(tuple(norm(v) for v in r) for r in odf[ocols].itertuples(index=False, name=None))
                    verdict = f"pass ({len(srows)} rows)" if srows == orows else \
                        f"FAIL {len(srows)} vs {len(orows)} rows; first diff " \
                        f"{next(((a, b) for a, b in zip(srows, orows) if a != b), None)}"
        except Exception as e:  # a missing result or an oracle error fails the entry
            verdict = f"FAIL {type(e).__name__}: {e}"
        failed += not verdict.startswith("pass")
        print(f"[oracle] {name}: {verdict}", file=log)
    return len(oracles), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    if a.workload not in DATA:
        die(f"unknown workload {a.workload}; one of {sorted(DATA)}")
    build()

    run = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "data"):
        os.makedirs(os.path.join(run, d))
    data_dir = os.path.join(run, "data")
    gen_s = 0.0
    if DATA[a.workload] is not None:
        sys.path.insert(0, HERE)
        import gendata
        gen_s = median_setup(lambda: gendata.write(data_dir, a.seed, **DATA[a.workload]))

    result_path = os.path.join(run, "result.json")
    cp = os.path.join(HERE, "target", "scala-2.13", "classes") + os.pathsep + \
        os.path.join(spark_home(), "jars", "*")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
           "-Dfile.encoding=UTF-8"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(CORES),
            "--data", data_dir, "--work", run, "--out", result_path]
    # SPARK_LOCAL_DIRS would override spark.local.dir; the CLI session
    # reads the other two.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env.update(SPARK_GRAFT_CPUS=str(CORES), SPARK_MASTER=f"local[{CORES}]")
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        launch = time.time()
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the JVM did not finish within {JVM_TIMEOUT_S} s; see {log_path}")
        if rc != 0 or not os.path.exists(result_path):
            die(f"the JVM exited with {rc}; see {log_path}")
        r = json.load(open(result_path))
        attempted, failed = r["attempted"], r["failed"]
        oracles = json.load(open(os.path.join(run, "oracles.json")))
        if oracles:
            checked, bad = oracle_check(data_dir, r["oracle_dir"], oracles, log)
            attempted, failed = attempted + checked, failed + bad

    if a.trace:
        traces = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}")
        os.makedirs(traces, exist_ok=True)
        for f in ("spans.json", "span_summary.json", "result.json"):
            shutil.copy(os.path.join(run, f), traces)
    shutil.rmtree(run, ignore_errors=True)

    setup_s = gen_s + (r["jvm_start_ms"] / 1e3 - launch) + r["setup_once_s"] + statistics.median(r["inputs_s"])
    values = {
        "setup_s": setup_s,
        "wall_s": r["wall_s"],
        "first_pass_s": r["first_pass_s"],
        "items_per_s": r["items_per_pass"] / r["wall_s"],
        "peak_heap_mb": r["peak_heap_mb"],
        "failed_ratio": failed / attempted,
    }
    values.update(r["layers"])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(f"perfbench {a.workload} seed {a.seed}: {len(r['passes_s'])} timed passes "
          f"{[round(p, 3) for p in r['passes_s']]}; log {os.path.relpath(log_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
