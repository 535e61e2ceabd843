"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the harness (`perfbench/harness`) and generates the input
tables, both into the work directory `.bench_build` of the checkout.

The Scala compiler and every dependency come from the Spark distribution:
`$SPARK_HOME/jars`, else the jar directory the project's `build.sbt`
names as its `unmanagedBase`, which is what the project compiles
against. Each step is skipped when a stamp of its inputs matches, so
only the first run in a checkout pays for it.

    python3 perfbench/build.py      # build only
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")

# What spark-submit would pass on JDK 17 (build.sbt's jdk17AddOpens).
# Every JVM also runs with -XX:-UsePerfData, which would write /tmp/hsperfdata_*.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no program sources at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files


def spark_classpath():
    home = os.environ.get("SPARK_HOME")
    if home:
        jar_dir = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise BuildError("no Spark jars: set SPARK_HOME to a Spark 4 distribution")
    return jars


def _stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _fresh(out, stamp):
    try:
        with open(out + ".stamp") as f:
            return f.read() == stamp and os.path.isdir(out)
    except OSError:
        return False


def _publish(tmp, out, stamp):
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(out + ".stamp", "w") as f:
        f.write(stamp)


def classes():
    """Compiled classes directory, compiling when the sources changed."""
    srcs, cp = sources(), spark_classpath()
    out = os.path.join(WORK, "classes")
    stamp = _stamp(srcs, ":".join(os.path.basename(j) for j in cp))
    if _fresh(out, stamp):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cps = ":".join(cp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cps, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-d", tmp, "-classpath", cps] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    _publish(tmp, out, stamp)
    return out


def data(sf):
    """Directory of the generated input tables at scale factor `sf`."""
    import datagen
    out = os.path.join(WORK, f"data-sf{sf}")
    stamp = _stamp([os.path.join(HERE, "datagen.py")], str(sf))
    if _fresh(out, stamp):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.generate(tmp, sf)
    _publish(tmp, out, stamp)
    return out


if __name__ == "__main__":
    try:
        print(classes())
    except BuildError as e:
        sys.exit(f"build: {e}")
