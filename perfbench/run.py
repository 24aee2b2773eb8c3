#!/usr/bin/env python3
"""Workload benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload <etl_daily|table_ops|corpus_dedup> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles graft and the benchmark from source
with the Scala compiler that ships among Spark's jars; later runs reuse
the build while the sources are unchanged. The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics. Everything the run writes
stays under perfbench/.work.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("etl_daily", "table_ops", "corpus_dedup")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp(jars):
    """Digest of every input of the build."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = []
    for base in inputs:
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(f"{os.path.basename(j)}:{os.path.getsize(j)}".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def spark_jars():
    """The Spark distribution's jars, which graft compiles and runs against.

    The repository's build.sbt names their directory (`unmanagedBase`);
    SPARK_HOME/jars is the fallback.
    """
    dirs = []
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        dirs.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        if os.path.isdir(d):
            jars = sorted(glob.glob(os.path.join(d, "*.jar")))
            if jars:
                return jars
    log("no Spark jars found (build.sbt unmanagedBase, SPARK_HOME/jars)")
    sys.exit(2)


def scalac(compiler, classpath, sources, out, tmp, deadline):
    """Compile `sources` into `out` with the Scala compiler in one JVM."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(WORK, "scalac.args")
    with open(args, "w") as f:
        for a in ["-nowarn", "-encoding", "UTF-8", "-d", out,
                  "-classpath", os.pathsep.join(classpath)] + sources:
            f.write((f'"{a}"' if re.search(r"\s", a) else a) + "\n")
    code, out_text = run_group(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + args],
        max(1, deadline - time.time()), cwd=WORK, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        log(f"build failed (exit {code}):")
        sys.stderr.write((out_text or "")[-6000:])
        sys.exit(2)


def scala_sources(base):
    found = []
    for d, dirs, names in os.walk(base):
        dirs.sort()
        found += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return found


def build():
    """Compile graft and the benchmark when their sources changed.

    The Scala compiler is the one Spark ships (same version as the
    repository's build), run directly, so the build reads nothing but the
    JDK, the Spark jars and the checkout, and writes only under .work.
    Returns the run classpath.
    """
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found next to the benchmark; cannot build")
        sys.exit(2)
    jars = spark_jars()
    classes = os.path.join(WORK, "classes")
    cp = ([os.path.join(classes, "graft"), os.path.join(ROOT, "src", "main", "resources"),
           os.path.join(classes, "perfbench")] + jars)
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp(jars)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return os.pathsep.join(cp)
        os.remove(stamp_file)
    compiler = [j for j in jars if re.match(
        r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", os.path.basename(j))]
    if len(compiler) != 3:
        log("the Scala compiler, library and reflect jars are not among Spark's jars")
        sys.exit(2)
    tmp = os.path.join(WORK, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    log("compiling graft and the benchmark")
    t0 = time.time()
    scalac(compiler, jars, scala_sources(os.path.join(ROOT, "src", "main", "scala")),
           cp[0], tmp, t0 + BUILD_TIMEOUT_S)
    scalac(compiler, cp[:2] + jars, scala_sources(os.path.join(BENCH, "src", "main", "scala")),
           cp[2], tmp, t0 + BUILD_TIMEOUT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return os.pathsep.join(cp)


def select(metrics, workload, trace):
    """The metrics BENCHMARK.json lists for the mode, in its order.

    A workload that BENCHMARK.json does not name keeps every metric.
    """
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if workload not in [w["name"] for w in bench["workloads"]]:
        return metrics
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if n not in metrics]
    if missing:
        log(f"the run did not report {', '.join(missing)}")
        sys.exit(5)
    return {n: metrics[n] for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
              f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", run_dir])
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir,
                          stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True)
    if code is None:
        log(f"benchmark run exceeded {RUN_TIMEOUT_S} s and was killed")
        sys.exit(3)
    result = None
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
        elif line:
            sys.stderr.write(line + "\n")
    if code != 0 or result is None:
        log(f"benchmark run failed (exit {code})")
        sys.exit(code or 4)
    result["metrics"] = select(result["metrics"], a.workload, a.trace)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    for n in os.listdir(run_dir):
        if n.startswith(("report-", "spans-")):
            shutil.copy(os.path.join(run_dir, n), reports)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
