"""Build file of the benchmark: compiles graft and the benchmark's Scala mains.

graft (`src/main/scala`) and the benchmark's own Scala sources
(`e2ebench/src`) are compiled from source with the Scala compiler that
ships in Spark's jar directory (`$SPARK_HOME/jars`, else the `jars`
directory of the Spark whose `bin/spark-submit` is on PATH), into
`.bench_build/` at the checkout root. Each of
the two class trees is rebuilt only when the hash of its sources
changes, so only the first run in a checkout pays the build.

sbt is not used because it keeps its state outside the checkout (its
boot, server and compiler-bridge files under the user's home), and the
benchmark reads and writes only inside its checkout. So that the two
builds cannot drift apart, the compiler must be the Scala version
build.sbt pins, and the JVM options are build.sbt's `jdk17AddOpens`,
read from build.sbt.

    python3 e2ebench/build.py      # build (or confirm up to date), print classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_home():
    """$SPARK_HOME, else the first directory on PATH whose spark-submit
    sits beside a `jars` directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars under {SPARK_JARS}")
    return os.pathsep.join(jars)


def _sources(src_dir):
    out = []
    for base, _, files in os.walk(src_dir):
        out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _build_sbt():
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return fh.read()


def add_opens():
    """The module openings build.sbt gives graft's JVMs (`jdk17AddOpens`)."""
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", _build_sbt(), re.S)
    pkgs = re.findall(r'"(java\.base/[^"]+)"', m.group(1)) if m else []
    if not pkgs:
        raise RuntimeError("build.sbt defines no jdk17AddOpens list")
    return pkgs


def _check_scala_version():
    m = re.search(r'scalaVersion := "([^"]+)"', _build_sbt())
    version = m.group(1) if m else "?"
    if not os.path.exists(os.path.join(SPARK_JARS, f"scala-compiler-{version}.jar")):
        raise RuntimeError(f"build.sbt pins Scala {version}; {SPARK_JARS} has no such compiler")


def java_env(tmp=None):
    """Environment for every JVM the benchmark starts: no perf-data file
    outside the checkout, temp and Spark scratch files inside it."""
    env = dict(os.environ)
    tmp = tmp or os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SPARK_LOCAL_DIRS"] = tmp
    return env


def java_cmd(classpath, main, args, heap="3g"):
    """Command line of a benchmark JVM running `main`."""
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in add_opens()]
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, main, *args]


def _compile(name, src_dir, extra_cp, dep_key=""):
    files = _sources(src_dir)
    if not files:
        raise RuntimeError(f"no sources under {src_dir}")
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    digest = _digest(files) + ":" + dep_key
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    _check_scala_version()
    tmp_out = out + ".tmp"
    shutil.rmtree(tmp_out, ignore_errors=True)
    os.makedirs(tmp_out)
    cp = os.pathsep.join(p for p in (extra_cp, spark_classpath()) if p)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp_out, "-classpath", cp] + files
    print(f"[e2ebench] compiling {name}: {len(files)} files", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, env=java_env(), stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"compiling {name} failed (exit {r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp_out, out)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out


def ensure_built():
    """Compile what is out of date; return the run classpath."""
    os.makedirs(BUILD, exist_ok=True)
    graft = _compile("graft-classes", os.path.join(ROOT, "src", "main", "scala"), "")
    with open(graft + ".stamp") as fh:
        graft_key = fh.read()
    bench = _compile("bench-classes", os.path.join(ROOT, "e2ebench", "src"), graft, graft_key)
    return os.pathsep.join([bench, graft, spark_classpath()])


if __name__ == "__main__":
    print(ensure_built())
