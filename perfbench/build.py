"""Build file of the benchmark package: compiles the program's sources
(src/main/scala, src/main/resources) together with the harness
(perfbench/scala) into one jar, with the Scala compiler that ships in the
Spark distribution, and dumps a class-data archive for the harness JVMs.
No network, no sbt.

    python3 perfbench/build.py        # prints the build's directory

The output goes under $CARGO_TARGET_DIR (default .bench_build) at the
repository root and is reused while no source file changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))


def _sources():
    out = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


# what spark-submit adds on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def classpath(out):
    """The program's jar, then the Spark jars by name. Listed one by one,
    not as a wildcard: the class-data archive records the class path and
    is used only when a run's class path is the same."""
    jars = sorted(f for f in os.listdir(SPARK_JARS) if f.endswith(".jar"))
    return os.pathsep.join([os.path.join(out, "app.jar")] +
                           [os.path.join(SPARK_JARS, f) for f in jars])


def java(out, heap, tmp):
    """The command that starts a harness JVM (main class and arguments
    follow). A fixed heap and the parallel collector: on 4 cores G1's
    concurrent threads slowed the driver-bound tick by a fifth. The
    class-data archive (see `archive`) is mapped when the build made one."""
    cmd = ["java", "-Xms" + heap, "-Xmx" + heap, "-Xss4m",
           "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false"]
    jsa = os.path.join(out, "app.jsa")
    if os.path.isfile(jsa):
        cmd += ["-XX:SharedArchiveFile=" + jsa, "-Xshare:auto"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath(out)]


def archive(out, log):
    """Dump a class-data archive of the classes a run loads: the JDK,
    Scala and Spark classes in classlist.txt and every class of the
    program's jar. A harness JVM maps it instead of loading and verifying
    those ~17 000 classes one by one, which saved 8-20 s a run on 4
    cores. classlist.txt is the union of
    `-XX:DumpLoadedClassList` over one run of each workload, without the
    program's and the harness's own classes (those are taken from the jar,
    so a change to the program never leaves the list stale). A class the
    list names but the class path lacks is skipped. If the dump fails,
    runs load every class from the jars."""
    with zipfile.ZipFile(os.path.join(out, "app.jar")) as z:
        own = sorted(n[:-len(".class")] for n in z.namelist()
                     if n.endswith(".class"))
    with open(os.path.join(HERE, "classlist.txt")) as f:
        listed = [ln for ln in f.read().splitlines() if ln]
    # plain class names first, then the lambda lines that refer to them
    lst = os.path.join(out, "classlist.txt")
    with open(lst, "w") as f:
        f.write("\n".join([ln for ln in listed if not ln.startswith("@")] +
                          own +
                          [ln for ln in listed if ln.startswith("@")]) +
                "\n")
    jsa = os.path.join(out, "app.jsa")
    try:
        rc = subprocess.run(
            ["java", "-Xshare:dump", "-XX:SharedClassListFile=" + lst,
             "-XX:SharedArchiveFile=" + jsa, "-Xlog:cds=error",
             "-cp", classpath(out)],
            cwd=out, stdout=log, stderr=log, timeout=600).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0:
        print(f"build: class-data archive failed ({rc}); runs load "
              "every class from the jars", file=log)
        if os.path.exists(jsa):
            os.remove(jsa)


def build(log=sys.stderr):
    """Compile if any source changed; return the build's output directory
    (app.jar and, when the dump succeeded, app.jsa)."""
    srcs = _sources()
    h = hashlib.sha256()
    for f in srcs + sorted(
            os.path.join(b, f) for b, _, fs in os.walk(RESOURCES)
            for f in fs) + [os.path.join(HERE, "classlist.txt")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(build_dir(), "build-" + stamp)
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    print(f"build: compiling {len(srcs)} sources -> {out}", file=log)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp",
         os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] +
        srcs,
        # run from the empty output dir: scalac's default user classpath is
        # the working directory, whose folders would shadow packages
        cwd=classes, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(os.path.join(out, "app.jar"), "w",
                         zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(base, f)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    print("build: dumping the class-data archive", file=log)
    archive(out, log)
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
