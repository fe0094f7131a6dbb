"""Build file of the dedup benchmark.

Compiles the engine (``src/main/scala``) together with the benchmark's own
Scala sources (``perfbench/scala``) into ``<build dir>/classes`` with the
Scala compiler that ships among the Spark jars, so no sbt, network or
dependency cache is needed. A stamp holding a digest of every source file
makes later runs in the same checkout skip the compile.

    python3 perfbench/build.py          # from the root of the repository
"""

import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH_SRC = pathlib.Path("perfbench/scala")
ENGINE_SRC = pathlib.Path("src/main/scala")

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit; the same list as the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir():
    return pathlib.Path(".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = pathlib.Path("build.sbt")
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not found:
            raise BuildError("SPARK_HOME is not set and build.sbt names no unmanagedBase")
        jars = pathlib.Path(found.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources():
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources {ENGINE_SRC}/ not found: run from the repository root")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def digest(files, jars):
    h = hashlib.sha256()
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile when the sources changed; return (classpath, source digest)."""
    jars = spark_jars()
    files = sources()
    stamp_digest = digest(files, jars)
    out = build_dir() / "classes"
    stamp = build_dir() / "classes.stamp"
    classpath = f"{out}{os.pathsep}{jars}/*"
    if stamp.exists() and stamp.read_text() == stamp_digest:
        return classpath, stamp_digest
    print(f"[perfbench] compiling {len(files)} Scala sources into {out}", file=log, flush=True)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-cp", f"{jars}/*", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    stamp.write_text(stamp_digest)
    return classpath, stamp_digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
