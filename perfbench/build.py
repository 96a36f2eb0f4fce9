"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/classes`, with the Scala compiler that ships in Spark's
jar directory. A content stamp skips the compile when nothing changed.

    python3 perfbench/build.py     # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the directory the
    program's build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no program sources at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(root):
    """Returns the classes directory, compiling first when needed."""
    files = sources(root)
    jar_dir = spark_jars(root)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no scala-compiler jar in {jar_dir}")
    h = hashlib.sha256()
    for f in files + jars:
        h.update(os.path.relpath(f, root).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "scalac.args")
        with open(argfile, "w") as fh:
            fh.write("-d\n" + classes + "\n-classpath\n" + os.pathsep.join(jars) + "\n")
            fh.write("\n".join(files) + "\n")
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jar_dir, "*"),
             "scala.tools.nsc.Main", "-nowarn", "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
