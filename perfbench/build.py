"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into one class directory.

It calls the Scala compiler that ships in the Spark jar directory
(build.sbt's `unmanagedBase`, or $SPARK_JARS), so it needs neither sbt
nor a network. A stamp of the source contents skips the compile when
nothing changed.

    python3 perfbench/build.py [<checkout root>]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory build.sbt compiles against."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no unmanagedBase jar directory in build.sbt")
    return m.group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(root):
    """Compiled classes, graft's resources (data-source registrations)
    and the Spark jars."""
    return os.pathsep.join([os.path.join(build_dir(root), "classes"),
                            os.path.join(root, "src", "main", "resources"),
                            os.path.join(spark_jars(root), "*")])


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(root):
    """Compile if the sources changed; return the run classpath."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(build_dir(root), "classes.stamp")
    classes = os.path.join(build_dir(root), "classes")
    if os.path.exists(stamp_path) and open(stamp_path).read() == h.hexdigest():
        return classpath(root)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir(root), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-classpath", jars, "-d", classes, "-nowarn",
           "-Ybackend-parallelism", "4", "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return classpath(root)


if __name__ == "__main__":
    build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                          os.path.join(HERE, "..")))
