"""Shared plumbing: checkout layout, the build, JVM command lines and
small statistics helpers."""
import hashlib
import json
import math
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(ROOT, "perfbench", "harness")
STAMP = os.path.join(WORK, "build.stamp")
CPUS = len(os.sched_getaffinity(0))


def spark_jars():
    """The Spark jar directory the engine's own build compiles against
    (`unmanagedBase` in the root build.sbt), else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    return m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")


# The JDK-17 module options Spark needs outside spark-submit (the same
# list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout():
    """The benchmark runs from the root of a checkout of the engine."""
    for p in ("build.sbt", "src/main/scala/graft/runner/Main.scala",
              "tools/check.py", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} not found: run from the root of a checkout")


def _sources():
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/harness/build.sbt",
             "perfbench/harness/project/build.properties",
             "perfbench/harness/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            yield p
        for d, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_hash():
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile the engine and the harness with sbt when the sources
    changed since the last build in this checkout."""
    os.makedirs(WORK, exist_ok=True)
    want = source_hash()
    outputs = [os.path.join(HARNESS, "target", "scala-2.13", "classes",
                            "perfbench", "QueryHarness.class"),
               os.path.join(ROOT, "target", "scala-2.13", "classes",
                            "graft", "runner", "Main.class")]
    if (os.path.exists(STAMP) and open(STAMP).read() == want and
            all(os.path.exists(p) for p in outputs)):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    t0 = time.monotonic()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(STAMP, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.monotonic() - t0:.0f} s",
          file=sys.stderr)


def classpath():
    return ":".join([
        os.path.join(ROOT, "target", "scala-2.13", "classes"),
        os.path.join(HARNESS, "target", "scala-2.13", "classes"),
        os.path.join(spark_jars(), "*")])


def java_cmd(main, heap, extra=()):
    """A JVM command line whose scratch files stay under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Xmx{heap}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        *extra, "-cp", classpath(), main]


def java_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_RAM_LOCAL"] = "0"
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    env["SPARK_MASTER"] = f"local[{CPUS}]"
    return env


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(values):
    return sum(values) / len(values)


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def metric(value, unit):
    return {"value": value, "unit": unit}


def manifest_units(trace):
    """{metric: unit} of BENCHMARK.json's end-to-end (trace 0) or
    per-layer (trace 1) metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {x["name"]: x["unit"]
            for x in bench["per_layer" if trace else "end_to_end"]}


def idle_metrics(names):
    """Per-layer metrics of a layer the workload never calls: no work, so
    every count and time is 0."""
    units = manifest_units(1)
    return {n: metric(0.0, units[n]) for n in names}
