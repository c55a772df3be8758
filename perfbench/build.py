#!/usr/bin/env python3
"""Build file of the benchmark, all of it under .bench_build/ of the checkout:

1. compile the program (src/main/scala) and then the harness
   (perfbench/harness/src) with the Scala compiler shipped in the Spark jars;
2. pack both into one jar.

A step is redone only when its inputs (sources, Spark jars, JDK) changed.
Usage: python3 perfbench/build.py [checkout-root]
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SCALA = "2.13.17"
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root):
    """The jars the program builds against: the `unmanagedBase` directory its
    build.sbt names, else $SPARK_HOME/jars."""
    dirs = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    raise SystemExit("no Spark jars found: set SPARK_HOME")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/src/**/*.scala"),
                               recursive=True))
    if not prog:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    return prog, harness


def clean_env():
    """The process environment minus everything that could steer Spark or the
    program from outside the pinned configuration (SPARK_*, GRAFT_*, JVM
    option variables)."""
    drop = ("SPARK_", "GRAFT_", "PYSPARK_")
    return {k: v for k, v in os.environ.items()
            if not k.startswith(drop) and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS",
                                                    "JDK_JAVA_OPTIONS")}


def jvm(classpath, tmp):
    """The java command line of a benchmark run."""
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", ":".join(classpath)])


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(jars).encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                            capture_output=True, text=True).stderr.encode())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar", f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"the Spark jars do not carry the Scala {SCALA} compiler")
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(classpath)] + files))
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", ":".join(compiler), "scala.tools.nsc.Main", "@" + argfile],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:] + r.stderr[-6000:])
        raise SystemExit(f"compile failed: {out}")


def pack(jar, dirs):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base in dirs:
            for d, _, files in sorted(os.walk(base)):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, base))


def ensure_built(root):
    """Returns the run classpath, building first if anything changed."""
    prog, harness = sources(root)
    jars = spark_jars(root)
    build = os.path.join(root, ".bench_build")
    os.makedirs(build, exist_ok=True)
    prog_out = os.path.join(build, "classes", "program")
    harness_out = os.path.join(build, "classes", "harness")
    app = os.path.join(build, "app.jar")
    classpath = [app] + jars
    with open(os.path.join(build, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        # the harness stamp covers the program too: it compiles against it
        for out, stamped, files, cp in ((prog_out, prog, prog, jars),
                                        (harness_out, prog + harness, harness, [prog_out] + jars)):
            want = stamp(stamped, jars)
            stamp_file = out + ".stamp"
            have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
            if have != want:
                shutil.rmtree(out, ignore_errors=True)
                scalac(jars, cp, out, files)
                with open(stamp_file, "w") as fh:
                    fh.write(want)
        # the jar follows the harness build
        built = open(harness_out + ".stamp").read()
        app_stamp = app + ".stamp"
        if not os.path.exists(app_stamp) or open(app_stamp).read() != built:
            pack(app, [prog_out, harness_out])
            with open(app_stamp, "w") as fh:
                fh.write(built)
    return classpath


if __name__ == "__main__":
    ensure_built(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "."))
