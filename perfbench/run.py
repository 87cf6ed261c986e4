#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt depends on the repository's
own build) and caches the classpath under .bench_build/; later runs rebuild
only when a source file changed. Each run then:

  1. generates the workload's input tables from --seed (gen_data.py);
  2. runs the harness (perfbench.Harness) in one JVM on local[4];
  3. for the catalog workload, checks every query's row count against the
     DuckDB oracle SQL the program ships for it;
  4. prints a human summary on stderr and, as the last line of stdout,
     {"correct", "attempted", "failed", "metrics"}.

It exits 1 when an output check fails, and 2 when it cannot build or run.
A traced run (--trace 1) also keeps its spans in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input scale per workload (lineitem rows ~ 6M x sf).
WORKLOADS = {
    "migrate_resume": 0.003,
    "catalog": 0.01,
}

# The JDK 17 module opens Spark needs when started outside spark-submit (the
# same list the repository's build.sbt passes to forked runs).
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# A run must end within 180 s; a building run may take 900 s in all.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_stamp():
    """Hash of every file the build reads (the program and the harness) and
    of the checkout's location, which the cached classpath names."""
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
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
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build():
    """Compile program + harness when the sources changed; return classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in "
             "this checkout")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    stamp_file = os.path.join(bd, "build.stamp")
    cp_file = os.path.join(bd, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("perfbench: building program and harness with sbt ...")
    t0 = time.time()
    tmp = os.path.join(bd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt build did not finish: {e}")
    if p.returncode != 0:
        log(p.stdout[-4000:])
        log(p.stderr[-4000:])
        fail(f"sbt build failed with code {p.returncode}")
    lines = [l.strip() for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[") and os.sep in l]
    if not lines:
        fail("sbt printed no classpath")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: build done in {time.time() - t0:.1f} s")
    return cp


def jvm_env(work):
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_AQE", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_EXTRA_CONF",
              "SPARK_GRAFT_STATE_STORE", "SPARK_GRAFT_MRG"):
        env.pop(k, None)
    env["SPARK_GRAFT_CPUS"] = "4"
    env["GRAFT_FIXTURES_DIR"] = os.path.join(ROOT, "fixtures")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def run_harness(cp, args, data, work, out, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out]
    logf = os.path.join(work, "harness.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=jvm_env(work), stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {timeout:.0f} s")
        finally:
            # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if not os.path.exists(out):
        with open(logf) as lf:
            log(lf.read()[-6000:])
        fail(f"harness exited with code {p.returncode} and no result")
    with open(out) as f:
        return json.load(f), p.returncode


def oracle_check(res, data):
    """Row count of every catalog query against the DuckDB oracle SQL."""
    import duckdb
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        path = os.path.join(data, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    rows = res["extra"]["rows"]
    oracle = res["extra"]["oracle"]
    problems = []
    for name in res["extra"]["order"]:
        got = rows.get(name)
        if got is None:
            problems.append(f"{name}: no result")
        elif name in oracle:
            want = con.execute(
                f"SELECT COUNT(*) FROM ({oracle[name]}) AS oracle").fetchone()[0]
            if got != want:
                problems.append(f"{name}: {got} rows, oracle has {want}")
        elif got <= 0:
            problems.append(f"{name}: no rows (no oracle SQL to compare)")
    con.close()
    return problems


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    cp = ensure_build()
    started = time.time()
    bd = build_dir()
    work = os.path.join(bd, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(work)
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"),
                        "--seed", str(args.seed),
                        "--sf", str(WORKLOADS[args.workload]), "--out", data],
                       check=True, stdout=subprocess.DEVNULL)
        out = os.path.join(work, "result.json")
        budget = RUN_TIMEOUT_S - (time.time() - started)
        res, code = run_harness(cp, args, data, work, out, budget)
        problems = list(res["failures"])
        if args.workload == "catalog":
            problems += oracle_check(res, data)
        if args.trace:
            tdir = os.path.join(bd, "traces")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(work, "result.spans.json"),
                        os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = bool(res["correct"]) and code == 0 and not problems
    # oracle mismatches are failed queries too
    failed = int(res["failed"]) + len(problems) - len(res["failures"])
    log(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
        f"correct={correct} attempted={res['attempted']} failed={failed}")
    for k, v in res["extra"].items():
        if k != "oracle":
            log(f"  {k}: {json.dumps(v)}")
    for k, v in res["checks"].items():
        log(f"  check {'ok  ' if v else 'FAIL'} {k}")
    for p in problems:
        log(f"  problem: {p}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    for k, m in metrics.items():
        log(f"  {k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
