#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload tpch_olap --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds graft's main classes
together with the benchmark's JVM side (offline sbt, Spark from
$SPARK_HOME or the spark-submit on the PATH); later runs reuse the build
while the sources are unchanged. Each run makes a fresh temp root inside
the checkout (tpch_olap reads the fixed tables in perfbench/data,
lake_cdc generates its change stream from --seed there), runs the
workload in one JVM (Spark local[nproc], one client thread, closed loop),
checks graft's outputs against DuckDB or a model of the seeded inputs,
removes the temp root and prints one JSON line: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.

--fresh-oracle recomputes the cached DuckDB oracle results instead of
reusing them. See perfbench/README.md for workloads and metrics.
"""
import argparse
import atexit
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_DIR = os.path.join(HERE, "jvm")
CLASSES = os.path.join(JVM_DIR, "target", "scala-2.13", "classes")
STAMP = os.path.join(CLASSES, ".source-hash")
HEAP = "1g"
# C1 only: a run lasts under a minute, and with C2 the JIT compiler was
# still taking more than a core for the whole of it, so timings followed
# the compile queue more than graft.
JIT = ["-XX:TieredStopAtLevel=1"]

DATA = os.path.join(HERE, "data")
# Registry queries of tpch_olap, in round order. Ops that memoize across
# calls are left out on purpose (README: "Ops left out").
TPCH_OLAP = [
    "q01_pricing_summary", "q05_region_revenue", "q13_order_counts",
    "q21_waiting_suppliers", "olap_cube_orders", "events_sessionize",
]
WORKLOADS = ("tpch_olap", "lake_cdc")
# A run times round(--seconds / nominal round time) whole rounds, at least
# two, so that repeat calls can be compared. The count depends on
# --seconds alone, not on how fast the host runs today: a run that stopped
# on the clock timed more (and warmer) rounds on a fast host than on a slow
# one.
NOMINAL_ROUND_S = {"tpch_olap": 5.0, "lake_cdc": 12.0}
MIN_ROUNDS = 2
# The JVM is killed after its set-up allowance plus three nominal rounds
# per timed round.
SETUP_ALLOWANCE_S = 90


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(JVM_DIR, "build.sbt"),
              os.path.join(JVM_DIR, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft's main sources and the benchmark unless up to date."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no graft sources (src/main/scala) beside perfbench/")
    want = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    log("building graft + benchmark (offline sbt)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark_home()
    # offline resolution from the local caches; sbt's own state and
    # jline's native-library temp go under the build's target dir
    state = os.path.join(JVM_DIR, "target")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g",
        f"-Dsbt.global.base={state}/sbt-global", f"-Djna.tmpdir={state}/jna"])
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       cwd=JVM_DIR, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")


def spark_home():
    """The installed Spark: $SPARK_HOME, else the first spark-submit on the
    PATH with a jars/ directory beside its bin/ (a pip pyspark shim has
    none)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: no Spark found (set SPARK_HOME)")


def java_cmd(args, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g"] + JIT + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "graftbench.Main"]
    return cmd + args


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fresh-oracle", action="store_true")
    a = ap.parse_args()

    build()
    cpus = len(os.sched_getaffinity(0))
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    tmp = os.path.join(HERE, ".work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    atexit.register(shutil.rmtree, tmp, True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cdc, lake, work, out = (os.path.join(tmp, d) for d in ("cdc", "lake", "work", "out"))
    for d in (lake, work, out, os.path.join(work, "tmp")):
        os.makedirs(d)

    rounds = max(MIN_ROUNDS, round(a.seconds / NOMINAL_ROUND_S[a.workload]))
    jargs = ["--workload", a.workload, "--rounds", str(rounds),
             "--trace", str(a.trace), "--cpus", str(cpus),
             "--out", out, "--work", work]
    if a.workload == "lake_cdc":
        params = datagen.write_cdc(a.seed, cdc)
        jargs += ["--cdc", cdc, "--lake", lake]
    else:
        jargs += ["--data", DATA, "--ops", ",".join(TPCH_OLAP)]

    env = dict(os.environ)
    env["SPARK_GRAFT_LAKE_DIR"] = lake
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = os.path.join(runs, f"{tag}.log")
    timeout = SETUP_ALLOWANCE_S + 3 * rounds * NOMINAL_ROUND_S[a.workload]
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(java_cmd(jargs, os.path.join(work, "tmp")), cwd=tmp, env=env,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM timed out, see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    res_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res_path):
        os.system(f"grep -E 'Exception|Error|\\[bench\\]' {log_path} | head -20 >&2")
        raise SystemExit(f"perfbench: JVM exited {code}, see {log_path}")
    res = json.load(open(res_path))
    with open(log_path) as lf:
        for line in lf:
            if line.startswith("[bench]"):
                sys.stderr.write(line)

    # output checks; a failed check fails every timed call of that op
    if a.workload == "lake_cdc":
        bad = checks.check_lake(cdc, params, out, res, log)
    else:
        bad = checks.check_queries(DATA, out, res, log, a.fresh_oracle,
                                   os.path.join(HERE, ".cache", "oracle"))
    rounds = res["rounds"]
    failed = {tuple(f) for f in res["failed_calls"]}
    failed |= {(r, p) for r in range(rounds) for p in bad}
    if a.trace:
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(runs, f"{tag}.spans.jsonl"))
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    if a.trace:  # the traced run's end-to-end figures give the tracing overhead
        log("end-to-end with tracing: " + json.dumps(res["end_to_end"]))
    log(f"{a.workload} seed {a.seed}: {res['attempted']} ops in {rounds} rounds, "
        f"{res['timed_s']:.1f} s timed")
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
