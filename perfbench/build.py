"""Build file of the benchmark: compiles the library's `src/main` and the
benchmark's own Scala main (`scala/GraftBench.scala`) into one class
directory with the Scala compiler that ships in the Spark distribution
(no sbt, no downloads).

    python3 perfbench/build.py            # build into $CARGO_TARGET_DIR or .bench_build

A build is reused while the sources' content hash is unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark distribution's jar directory: $SPARK_HOME, the one holding
    `spark-submit` on the PATH, or the repo build's `unmanagedBase`."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))),
                                 "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        sys.exit(f"perfbench: no library sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def source_stamp(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    for s in sources(root):
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile if needed; return the class directory."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(out, "perfbench")
    srcs = sources(root)
    stamp = source_stamp(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(root), "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp,
         "@" + args_file],
        stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"perfbench: compile failed ({rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
