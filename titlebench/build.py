"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own sources in one `scalac` pass.

The Scala compiler is the one that ships with the Spark distribution the
repository builds against (the `unmanagedBase` jar directory named in the
root `build.sbt`, else `$SPARK_HOME/jars`), so the build needs neither sbt
nor a dependency cache. Output goes under `.bench_build/titlebench/` in the
checkout and is reused while no source file changes.

    python3 titlebench/build.py     # prints the run classpath
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
OUT = os.path.join(ROOT, ".bench_build", "titlebench")


def jar_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("titlebench: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("titlebench: %s holds no repository sources to build" % ROOT)
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def resources():
    return os.path.join(ROOT, "src", "main", "resources")


def stamp(files, jars):
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(jars.encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure():
    """Compile if needed; returns (run classpath, source digest)."""
    jars = jar_dir()
    files = sources()
    digest = stamp(files, jars)
    classes = os.path.join(OUT, "classes-" + digest[:16])
    done = os.path.join(classes, ".done")
    if not os.path.isfile(done):
        os.makedirs(OUT, exist_ok=True)
        for old in glob.glob(os.path.join(OUT, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join('"%s"' % p for p in files))
        cp = os.path.join(jars, "*")
        print("titlebench: compiling %d sources" % len(files), file=sys.stderr, flush=True)
        code = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + OUT, "-cp", cp,
             "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", classes,
             "@" + argfile],
            stdout=sys.stderr).returncode
        if code != 0:
            raise SystemExit("titlebench: compilation failed (scalac exit %d)" % code)
        open(done, "w").close()
    return os.pathsep.join([classes, resources(), os.path.join(jars, "*")]), digest


if __name__ == "__main__":
    print(ensure()[0])
