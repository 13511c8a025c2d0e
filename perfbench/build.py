#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program's main sources together with the harness sources in
`perfbench/harness/` into `.bench_build/classes`, with the Scala compiler
that ships in the Spark distribution. No sbt, no dependency resolution:
the class path is exactly the Spark jars the program's own build uses.
A stamp over every source file skips the compile when nothing changed.

    python3 perfbench/build.py          # from the root of a checkout
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the program's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "harness")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; return the class path for running the harness."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    jars = spark_jars(root)
    out_dir = os.path.join(root, ".bench_build", "classes")
    stamp_file = os.path.join(root, ".bench_build", "classes.stamp")
    h = hashlib.sha1(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    stamp = h.hexdigest()
    resources = os.path.join(root, "src", "main", "resources")
    cp = [out_dir, resources, os.path.join(jars, "*")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return os.pathsep.join(cp)
    if os.path.isdir(out_dir):
        subprocess.run(["rm", "-rf", out_dir], check=True)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-cp", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return os.pathsep.join(cp)


if __name__ == "__main__":
    print(build(os.getcwd()))
