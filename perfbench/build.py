"""Build and data preparation for the graft benchmark.

The engine is compiled from `src/main/scala` with the Scala compiler that
ships in the Spark jar directory (no sbt, no build-file change), and the
harness in `perfbench/src` is compiled against those classes. Outputs go to
`.bench_build/`, keyed by a hash of their sources, so a checkout builds once.
Benchmark data lives in `.bench_data/`: the sf1 tables are generated once
from the vendored sf0.1 tables with `graft.tools.ScaleUp` (k=10), and the
suites' generator-scale tables once by `graftbench.DataPrep`.
"""
import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
SF01 = os.path.join(HERE, "data", "sf0.1")
SF1 = os.path.join(DATA, "sf1")
TMP = os.path.join(DATA, "tmp")
SRC_MAIN = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")
HEAP = "3g"

# Same module flags the repo's build passes to forked JVMs (build.sbt
# javaOptions): Spark 4 on JDK 17 outside spark-submit needs them.
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar", "jdk.internal.ref")]


class BenchError(Exception):
    pass


def _tree_hash(root):
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


@contextlib.contextmanager
def _lock(name):
    os.makedirs(DATA, exist_ok=True)
    with open(os.path.join(DATA, name + ".lock"), "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


def _spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.isfile(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise BenchError("cannot locate the Spark jars: set SPARK_HOME")
    return m.group(1)


def _spark_cp():
    jars = sorted(glob.glob(os.path.join(_spark_jars_dir(), "*.jar")))
    if not jars:
        raise BenchError(f"no Spark jars under {_spark_jars_dir()}: set SPARK_HOME")
    return jars


def _scalac(out_dir, sources, classpath, log):
    jars = _spark_cp()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise BenchError("scala-compiler/library/reflect jars missing among the Spark jars")
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", ":".join(classpath + jars), "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        raise BenchError(f"compilation failed (exit {rc}); see {log}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def build():
    """Compile engine + harness if their sources changed; return the JVM
    classpath."""
    if not os.path.isdir(SRC_MAIN):
        raise BenchError(
            f"engine sources not found at {SRC_MAIN}: run the benchmark from "
            "the root of a graft checkout (the engine classes are built from "
            "src/main/scala)")
    with _lock("build"):
        os.makedirs(BUILD, exist_ok=True)
        engine = os.path.join(BUILD, "engine-" + _tree_hash(SRC_MAIN))
        if not os.path.isdir(engine):
            for old in glob.glob(os.path.join(BUILD, "engine-*")):
                shutil.rmtree(old, ignore_errors=True)
            print("[perfbench] compiling engine sources", file=sys.stderr, flush=True)
            srcs = sorted(glob.glob(os.path.join(SRC_MAIN, "**", "*.scala"), recursive=True))
            _scalac(engine, srcs, [], os.path.join(BUILD, "engine-build.log"))
        harness = os.path.join(
            BUILD, "harness-" + _tree_hash(HARNESS_SRC) + "-" + os.path.basename(engine)[7:])
        if not os.path.isdir(harness):
            for old in glob.glob(os.path.join(BUILD, "harness-*")):
                shutil.rmtree(old, ignore_errors=True)
            srcs = sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
            _scalac(harness, srcs, [engine], os.path.join(BUILD, "harness-build.log"))
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BenchError(f"engine classes missing under {engine}")
    return [harness, engine, RESOURCES] + _spark_cp()


def java_cmd(classpath, main, args):
    os.makedirs(TMP, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={TMP}", f"-Dspark.local.dir={TMP}",
             f"-Dderby.system.home={TMP}",
             f"-Dgraft.sources.root={os.path.join(TMP, 'graft_sources')}",
             "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED"] + JAVA_OPENS +
            ["-cp", ":".join(classpath), main] + list(args))


def run_jvm(cmd, log, timeout):
    """Run a JVM in its own process group; kill the group on timeout and wait
    for it, so no process outlives the benchmark."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(p.pid, 9)
            p.wait()
            raise


def ensure_data(classpath, sf1=False):
    """sf0.1 is vendored; the suites' tables are generated once per checkout,
    and the sf1 tables once when a workload first needs them."""
    if not os.path.isfile(os.path.join(SF01, "lineitem.parquet")):
        raise BenchError(f"vendored sf0.1 tables missing under {SF01}")
    with _lock("data"):
        stamp = os.path.join(SF1, "_PERFBENCH_OK")
        if sf1 and not os.path.exists(stamp):
            shutil.rmtree(SF1, ignore_errors=True)
            print("[perfbench] generating sf1 (ScaleUp k=10)", file=sys.stderr, flush=True)
            rc = run_jvm(java_cmd(classpath, "graft.tools.ScaleUp", [SF01, SF1, "10"]),
                         os.path.join(DATA, "scaleup.log"), 900)
            if rc != 0:
                raise BenchError(f"ScaleUp failed (exit {rc}); see {DATA}/scaleup.log")
            open(stamp, "w").close()
        stamp = os.path.join(TMP, "_PERFBENCH_SUITES_OK")
        if not os.path.exists(stamp):
            print("[perfbench] generating suite tables", file=sys.stderr, flush=True)
            rc = run_jvm(java_cmd(classpath, "graftbench.DataPrep", []),
                         os.path.join(DATA, "suites.log"), 900)
            if rc != 0:
                raise BenchError(f"suite data generation failed (exit {rc}); see {DATA}/suites.log")
            open(stamp, "w").close()
