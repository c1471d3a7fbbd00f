"""Build for the benchmark: compiles the program's sources (`src/main/scala`)
together with the harness (`perfbench/scala`) using the Scala compiler
that ships in the Spark distribution, against the same jars the sbt build
uses (`unmanagedBase`). The output is cached under `.bench_build/` by a hash
of every source file, so only the first run in a checkout compiles.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars the sbt build compiles against (its `unmanagedBase`), else
    `$SPARK_HOME/jars`."""
    candidates = []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise RuntimeError("no Spark jars: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(BENCH, "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        raise RuntimeError(f"no program sources under {main}")
    return files + sorted(glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))


def ensure_built(log=sys.stderr):
    """Return the classes directory, compiling first if the sources changed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + files
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        raise RuntimeError("compile failed:\n" + res.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(ensure_built())
