#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala``) together with the
harness (``graftbench/src``) into ``.bench_build/graftbench.jar`` with the
Scala compiler that ships in the Spark distribution's jars, so a checkout
builds without a dependency resolver. A stamp of the sources' hash skips
the compile when nothing changed.

    python3 graftbench/build.py        # from the repository root

After a compile, a short training run dumps an application class-data-sharing archive
(``.bench_build/app.jsa``), which every run maps instead of loading the
Spark classes one by one: a cold JVM's first session start is mostly
class loading. A build is complete only with both the jar and the
archive; the stamp is written last, so a failed step is retried by the
next run.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "graftbench.jar")
ARCHIVE = os.path.join(BUILD, "app.jsa")
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark (and Scala) jars graft builds against:
    ``$SPARK_HOME/jars``, else those of a Spark distribution whose ``bin``
    directory is on the PATH.
    """
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if d and os.path.exists(os.path.join(d, "spark-submit")):
            cands.append(os.path.join(os.path.dirname(os.path.realpath(d)), "jars"))
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")) and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft sources not found under {main}: run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not any(f.startswith(main) for f in files):
        raise BuildError("no graft sources to compile")
    return files


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def pack(classes, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                if f.endswith(".class"):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)


def build(train=None, log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath.

    ``train(classpath, archive)`` runs the harness once to dump the
    class-data-sharing archive after a fresh compile.
    """
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(BUILD, "STAMP")
    classpath = JAR + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.exists(ARCHIVE):
        return classpath
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[graftbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + files
    res = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if res.returncode == 0:
        pack(tmp, JAR)
    shutil.rmtree(tmp, ignore_errors=True)
    if res.returncode != 0:
        raise BuildError(f"compile failed (exit {res.returncode})")
    if train is not None:
        print("[graftbench] dumping the class-data-sharing archive", file=log, flush=True)
        train(classpath, ARCHIVE)
        if not os.path.exists(ARCHIVE):
            raise BuildError("the class-data-sharing training run failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath


if __name__ == "__main__":
    import run
    try:
        build(train=run.train)
    except BuildError as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        sys.exit(2)
