"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/src) straight with the
Scala compiler that ships in the Spark jar directory, into
`.bench_build/classes-<source hash>/`. A build whose sources are unchanged is
reused. Run from the repository root: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
HARNESS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def jar_dir(root="."):
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("no Spark jar directory: set SPARK_HOME")


def sources(root="."):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("no engine sources under src/main/scala: run from the repository root")
    return engine + sorted(glob.glob(os.path.join(HARNESS, "*.scala")))


def build(root=".", log=sys.stderr):
    """Returns the classes directory, compiling first if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    out = os.path.join(root, BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(root, BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(jar_dir(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + srcs
    print(f"building {len(srcs)} sources into {out}", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    open(os.path.join(out, ".done"), "w").close()
    return out


def java_cmd(classes, root=".", heap="4g", tmp=None):
    """The harness JVM. Its temporary files go to `tmp` (by default inside the
    build directory); the engine caches generated media fixtures there, so a
    run that must start cold passes a fresh directory."""
    tmp = os.path.abspath(tmp or os.path.join(root, BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + JDK17_OPENS + ["-cp", classes + os.pathsep + os.path.join(jar_dir(root), "*")])


if __name__ == "__main__":
    print(build())
