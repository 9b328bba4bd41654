"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` plus `src/main/resources`) and the
benchmark driver (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution, so a checkout builds with nothing but a JDK and
the Spark jars. The classes are packed into `.perfbench/build/engine.jar`
and `bench.jar`. A build is reused while the hash of its sources (and of
this file) is unchanged.

    python3 perfbench/build.py          # build (or reuse) and print the classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(WORK, "build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
XMX = "2g"
# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution at SPARK_HOME, or else of the
    first one whose bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    jars = next((os.path.join(h, "jars") for h in homes if os.path.isdir(os.path.join(h, "jars"))), None)
    if jars is None:
        raise BuildError("no Spark jars found: set SPARK_HOME or put a Spark distribution's bin on PATH")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def _hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(cp, out, sources, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + sources
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}); see {log.name}")


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))


def cpus():
    return len(os.sched_getaffinity(0))


def jvm_command(cp, work, bench_args):
    """The benchmark JVM: a fixed-size heap (so the resident-memory peak
    does not depend on when the collector grew it), Spark's module opens,
    a local session on every core, and Spark's scratch space, warehouse
    and temp files kept inside the checkout. Returns (argv, environment)."""
    tmp = os.path.join(WORK, "tmp")
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{XMX}", f"-Xmx{XMX}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Bench", "--work", work] + bench_args
    return cmd, dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))


def run_jvm(cmd, env, log_path, timeout):
    """Run one JVM to completion, killed after `timeout` seconds.
    Returns its exit code, or None when it timed out."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def build():
    """Return the classpath, compiling first when the sources changed."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        raise BuildError("run from the repository root: src/main/scala and perfbench/src are required")
    engine = _files(ENGINE_SRC, ".scala")
    bench = _files(BENCH_SRC, ".scala")
    resources = _files(ENGINE_RES) if os.path.isdir(ENGINE_RES) else []
    if not engine or not bench:
        raise BuildError("no Scala sources to build")
    jars = spark_jars()
    key = _hash(engine + resources) + "-" + _hash(bench + [os.path.abspath(__file__)])
    engine_jar, bench_jar = os.path.join(BUILD, "engine.jar"), os.path.join(BUILD, "bench.jar")
    cp = os.pathsep.join([engine_jar, bench_jar] + jars)
    stamp = os.path.join(BUILD, "OK")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == key:
                return cp

    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        _scalac(os.pathsep.join(jars), os.path.join(classes, "engine"), engine, log)
        for r in resources:
            target = os.path.join(classes, "engine", os.path.relpath(r, ENGINE_RES))
            os.makedirs(os.path.dirname(target), exist_ok=True)
            shutil.copyfile(r, target)
        _scalac(os.pathsep.join([os.path.join(classes, "engine")] + jars),
                os.path.join(classes, "bench"), bench, log)
    _jar(os.path.join(classes, "engine"), engine_jar)
    _jar(os.path.join(classes, "bench"), bench_jar)
    shutil.rmtree(classes)

    with open(stamp, "w") as f:
        f.write(key)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
