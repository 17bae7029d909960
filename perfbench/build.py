"""Build file of the benchmark: compiles the program and the benchmark.

The program (`src/main/scala`, `src/main/resources`) and the benchmark
(`perfbench/src`) are compiled from source with the Scala compiler that
ships among Spark's jars, the same compiler version `build.sbt` pins, and
packed as jars under `.bench_build/classes` in the checkout. A training
run (`perfbench.Train`) then writes a class-data-sharing archive for that
classpath, which cuts JVM and Spark start-up in every run. Each stage is
reused while its inputs are unchanged (a content hash is the stamp).

    python3 perfbench/build.py      # build, print the runtime classpath
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def _spark_jars():
    """The Spark jars the program builds against: the `unmanagedBase` that
    build.sbt names, else `$SPARK_HOME/jars`.
    """
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = _spark_jars()


JVM_HEAP = "3g"
# Pinned for every benchmark JVM: heap well below the box's memory, the GC,
# UTC, and the module opens Spark needs outside spark-submit.
JVM_FLAGS = [
    "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Duser.timezone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def java_cmd(classpath, run_dir, main, args, archive=None, dump=None):
    """The benchmark JVM's command line, with scratch space under `run_dir`."""
    cds = ["-XX:SharedArchiveFile=" + archive] if archive else []
    if dump:
        cds = ["-XX:ArchiveClassesAtExit=" + dump]
    return ["java"] + JVM_FLAGS + cds + [
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(run_dir, "tmp", "hadoop"),
        "-cp", classpath, main] + args


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _run(cmd, log, what, cwd=ROOT):
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=cwd)
    if rc != 0:
        raise BuildError("%s failed (exit %d); see %s" % (what, rc, log))


def _scalac_jar(out, classpath, sources, log, resources=None):
    """Compiles `sources` and packs them, plus `resources`, as `out`/classes.jar."""
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    args = os.path.join(out, "sources.args")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    _run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS + "/*",
          "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", classpath, "@" + args],
         log, "scalac")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    _run(["jar", "-J-XX:-UsePerfData", "cf", os.path.join(out, "classes.jar"), "-C", classes, "."],
         log, "jar")
    shutil.rmtree(classes)
    os.remove(args)


def _stage(out, stamp, make, in_place=False):
    """Rebuilds `out` unless its stamp matches. The result is swapped in
    whole, or (`in_place`) stamped only once it is complete.
    """
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out if in_place else out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        make(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    if not in_place:
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)


def build():
    """Builds what changed; returns (runtime classpath, CDS archive)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src) or not os.path.isdir(bench_src):
        raise BuildError("no program sources under %s" % main_src)
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler in %s" % SPARK_JARS)
    os.makedirs(CLASSES, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    resources = os.path.join(ROOT, "src", "main", "resources")
    program = _files(main_src, ".scala")
    bench = _files(bench_src, ".scala")
    main_out = os.path.join(CLASSES, "main")
    bench_out = os.path.join(CLASSES, "bench")
    cds_out = os.path.join(CLASSES, "cds")
    main_jar = os.path.join(main_out, "classes.jar")
    bench_jar = os.path.join(bench_out, "classes.jar")
    classpath = os.pathsep.join([bench_jar, main_jar, SPARK_JARS + "/*"])
    archive = os.path.join(cds_out, "app.jsa")
    main_stamp = _digest(program + _files(resources) + [os.path.abspath(__file__)])
    bench_stamp = main_stamp + _digest(bench)

    _stage(main_out, main_stamp, lambda out: _scalac_jar(
        out, SPARK_JARS + "/*", program, log, resources))
    _stage(bench_out, bench_stamp, lambda out: _scalac_jar(
        out, os.pathsep.join([main_jar, SPARK_JARS + "/*"]), bench, log))

    def train(out):
        # the archive is bound to the final jar paths, so it is dumped
        # straight into place and only then stamped
        os.makedirs(os.path.join(out, "tmp"))
        _run(java_cmd(classpath, out, "perfbench.Train", [os.path.join(out, "train")],
                      dump=os.path.join(out, "app.jsa")), log, "class-sharing training run")
        shutil.rmtree(os.path.join(out, "train"), ignore_errors=True)
        shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)

    _stage(cds_out, bench_stamp, train, in_place=True)
    return classpath, archive


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit("perfbench build: %s" % e)
