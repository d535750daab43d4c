"""Build file of the benchmark.

Compiles the program under test (src/main/scala at the repository root)
together with the benchmark's own sources (perfbench/src) into
<build dir>/bench.jar, using the Scala compiler that ships in the same jar
set the repository's build.sbt compiles against. It then records a
class-data-sharing archive (<build dir>/classes.jsa) from one short pass
over every workload, so each benchmark JVM maps Spark's classes instead
of loading them one by one. The build is skipped when no source changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def jars_dir():
    """The Spark jar set: $SPARK_HOME/jars, else the unmanagedBase the
    repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: cannot find the Spark jars (set SPARK_HOME)")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not program:
        raise SystemExit("build: program sources (src/main/scala) not found")
    return program + bench


def java_cmd(cp, tmp, extra=()):
    """The benchmark JVM's command line up to the main class."""
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "--add-modules=jdk.incubator.vector", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"] + list(extra)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    archive = os.path.join(build_dir(), "classes.jsa")
    if not any(e.startswith("-XX:ArchiveClassesAtExit") for e in extra) \
            and os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    return cmd + ["-cp", cp]


def build(quiet=False):
    """Compile if needed; return the runtime classpath."""
    jars = jars_dir()
    bdir = build_dir()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(bdir, "build.sha256")
    jar = os.path.join(bdir, "bench.jar")
    cp = jar + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    classes = os.path.join(bdir, "classes")
    for p in (stamp, jar, os.path.join(bdir, "classes.jsa")):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-cp", os.path.join(jars, "*")] + srcs
    if not quiet:
        print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    # a jar, not a directory: class-data sharing only archives jar entries
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(classes):
            for name in files:
                full = os.path.join(dirpath, name)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    work = os.path.join(bdir, "runs", f"classes-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if not quiet:
        print("build: recording the class-data-sharing archive", file=sys.stderr)
    rec = java_cmd(cp, os.path.join(work, "tmp"),
                   [f"-XX:ArchiveClassesAtExit={os.path.join(bdir, 'classes.jsa')}"])
    try:
        subprocess.run(rec + ["perfbench.Main", "classes", work], stdout=sys.stderr,
                       stderr=sys.stderr, timeout=600)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
