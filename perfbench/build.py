"""Build file of the benchmark: compiles the program and the engine harness.

The program's sources (``src/main/scala``) and the harness
(``perfbench/scala``) are compiled straight with the Scala compiler that
ships among the Spark jars the repository builds against (``unmanagedBase``
in ``build.sbt``). No sbt, no dependency resolution, no network. Outputs go
under the build directory; a stamp of the sources' hash skips the compile
when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HEAP = "3g"
# A fixed heap and young generation under the parallel collector: G1's
# adaptive sizing made peak resident memory swing by a fifth between
# runs of the same input.
GC = ["-XX:+UseParallelGC", f"-Xms{HEAP}", "-Xmn1g"]


class BuildError(RuntimeError):
    pass


def _build_sbt(root):
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt: run from the root of a checkout of the program")
    with open(sbt) as f:
        return f.read()


def add_opens(root):
    """The `--add-opens` packages build.sbt's jdk17AddOpens lists: Spark 4
    on JDK 17 needs them outside spark-submit."""
    m = re.search(r"val\s+jdk17AddOpens\s*=\s*Seq\((.*?)\)", _build_sbt(root), re.S)
    if not m:
        raise BuildError("build.sbt names no jdk17AddOpens")
    return re.findall(r'"([^"]+)"', m.group(1))


def spark_jars(root):
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt(root))
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        raise BuildError(f"no jars under {m.group(1)}")
    return jars


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not main or not bench:
        raise BuildError("program or harness sources missing")
    return main, bench


def _scalac(jars, classpath, out, srcs):
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("scala compiler, library and reflect jars not found")
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", ":".join(classpath)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])


def build(root, out_root):
    """Returns the engine JVM's classpath, compiling first if needed."""
    jars = spark_jars(root)
    main, bench = _sources(root)
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_root, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    main_out = os.path.join(classes, "main")
    bench_out = os.path.join(classes, "bench")
    cp = [bench_out, main_out, os.path.join(root, "src/main/resources")] + jars
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    sys.stderr.write("perfbench: compiling the program and the harness\n")
    _scalac(jars, jars, main_out, main)
    _scalac(jars, [main_out] + jars, bench_out, bench)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(root, classpath, work):
    opens = [x for p in add_opens(root) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", *GC, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(classpath)]
