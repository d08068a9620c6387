#!/usr/bin/env python3
"""Builds the benchmark.

    python3 perfbench/build.py          # prints the runtime classpath

1. Compiles the engine sources (src/main/scala) and the harness
   (perfbench/src) with the Scala compiler that ships in the Spark
   distribution, so no sbt cache or network is needed.
2. Packs the classes and src/main/resources into graftbench.jar.
3. Records a class-data-sharing archive (graftbench.jsa) from one short
   run of a workload. Later runs map their classes from it, which
   takes about 7 s of class loading off each cold JVM start (measured on
   a 4-core container); it does not change steady-state execution. If
   recording fails, the build fails: two builds compared must start their
   JVMs alike.

Builds are cached under .bench_build/perfbench/, keyed by a hash of every
input file, so an unchanged tree is not rebuilt. The two most recently
used builds are kept, so runs that alternate between two trees in one
checkout do not rebuild.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars the project's own build compiles against (the
    `unmanagedBase` of build.sbt), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars: build.sbt sets no unmanagedBase and SPARK_HOME is unset")


def sources():
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def resources():
    return sorted(f for f in glob.glob(os.path.join(RESOURCES, "**"), recursive=True)
                  if os.path.isfile(f))


def inputs_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compiler_classpath(jars):
    found = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        match = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
        if not match:
            raise SystemExit("perfbench: %s jar not found in %s" % (name, jars))
        found.append(match[-1])
    return os.pathsep.join(found)


def java_cmd(build_dir, work, main_args):
    """The benchmark JVM: the session flags graft's sbt build passes,
    scratch space under `work`, and the class archive when present
    (it is absent only while it is being recorded)."""
    cmd = ["java", "-Xmx3g", "-Xss8m", "-Dspark.ui.enabled=false",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    jsa = os.path.join(build_dir, "graftbench.jsa")
    if os.path.exists(jsa):
        cmd.append("-XX:SharedArchiveFile=" + jsa)
    cmd += ["-cp", os.pathsep.join([os.path.join(build_dir, "graftbench.jar"),
                                    os.path.join(spark_jars(), "*")]),
            "graftbench.Main"] + main_args
    return cmd


def compile_into(out, files, jars):
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + files
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(os.path.join(out, "graftbench.jar"), "w", zipfile.ZIP_DEFLATED) as z:
        for base, names in ((classes, glob.glob(os.path.join(classes, "**"), recursive=True)),
                            (RESOURCES, resources())):
            for f in sorted(names):
                if os.path.isfile(f):
                    z.write(f, os.path.relpath(f, base))
    shutil.rmtree(classes)


def record_archive(out):
    work = os.path.join(out, "cds-run")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(out, work, ["--workload", "dedup_pipeline", "--seconds", "0", "--work", work])
    cmd.insert(1, "-XX:ArchiveClassesAtExit=" + os.path.join(out, "graftbench.jsa"))
    print("perfbench: recording the class archive", file=sys.stderr)
    try:
        ok = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                            cwd=work, timeout=600).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok or not os.path.exists(os.path.join(out, "graftbench.jsa")):
        raise SystemExit("perfbench: recording the class archive failed")


def build():
    """Returns the build directory, building first when needed."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("perfbench: engine sources not found at %s" % ENGINE_SRC)
    jars = spark_jars()
    files = sources()
    out = os.path.join(BUILD_ROOT, "build-" + inputs_hash(files + resources()))
    if not os.path.exists(os.path.join(out, ".done")):
        # built in place: the class archive records the jar's path
        shutil.rmtree(out, ignore_errors=True)
        try:
            compile_into(out, files, jars)
            record_archive(out)
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise
        open(os.path.join(out, ".done"), "w").close()
    # the .done marker's mtime records the last use of a build
    os.utime(os.path.join(out, ".done"))
    def last_used(d):
        try:
            return os.path.getmtime(os.path.join(d, ".done"))
        except OSError:
            return 0.0
    builds = sorted(glob.glob(os.path.join(BUILD_ROOT, "build-*")), key=last_used, reverse=True)
    for stale in builds[2:]:
        shutil.rmtree(stale, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
