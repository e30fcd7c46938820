#!/usr/bin/env python3
"""Build the program and the benchmark with the Scala compiler that ships in
the project's Spark jar directory (the `unmanagedBase` of build.sbt).

Under .bench_build/perfbench/, each step redone only when its inputs changed
(a content hash is stored next to its output):
  program/, program.jar  src/main/scala + src/main/resources
  core/, core.jar        perfbench/scala/core   (untraced runs; needs program)
  trace/                 perfbench/scala/trace  (traced runs; needs both)
  app.jsa                a class-data-sharing archive of the classes an
                         untraced run loads, dumped by perfbench.Train; it
                         cuts JVM and Spark start-up by about half
The traced layer calls are compiled apart, so a later change to a layer's
internals can break only the traced runs, never the gated ones.

Usage: python3 perfbench/build.py   (prints the class path on success)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
# the JVM flags spark-submit would add on JDK 17 (build.sbt sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed-size heap and the parallel collector: with G1 resizing its heap
# run by run, both the op times and the peak RSS wandered between runs of
# the same code. The archive must be dumped and used with the same flags.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"] + [
    f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources(*dirs):
    files = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_unit(name, src_dirs, resources, classpath, jars):
    """Compile one unit into OUT/name unless its stamp matches its inputs."""
    dest = OUT / name
    files = sources(*src_dirs)
    res = sources(resources) if resources and resources.is_dir() else []
    # a unit is rebuilt whenever a unit it compiles against was
    stamp = digest(files + res, "".join((c / ".stamp").read_text() for c in classpath))
    if (dest / ".stamp").is_file() and (dest / ".stamp").read_text() == stamp:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / f"{name}.args"
    argfile.write_text("\n".join(str(f) for f in files if f.suffix == ".scala") + "\n")
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in classpath])
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {name} ({len(files)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed")
    if res:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest


def package(unit):
    """Zip a compiled unit into OUT/<unit>.jar (the archive needs jars)."""
    dest = OUT / f"{unit.name}.jar"
    stamp = (unit / ".stamp").read_text()
    if dest.is_file() and Path(f"{dest}.stamp").is_file() and \
            Path(f"{dest}.stamp").read_text() == stamp:
        return dest
    tmp = OUT / f"{unit.name}.jar.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(unit.rglob("*")):
            if f.is_file() and f.name != ".stamp":
                z.write(f, f.relative_to(unit).as_posix())
    tmp.replace(dest)
    Path(f"{dest}.stamp").write_text(stamp)
    return dest


def class_archive(cp, jars):
    """Dump OUT/app.jsa from a perfbench.Train run unless it is current.
    Best effort: without it runs start slower but measure the same code."""
    dest = OUT / "app.jsa"
    stamp = "".join(Path(f"{c}.stamp").read_text() for c in cp)
    if dest.is_file() and (OUT / "app.jsa.stamp").is_file() and \
            (OUT / "app.jsa.stamp").read_text() == stamp:
        return dest
    work = OUT / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    tmp = OUT / "app.jsa.tmp"
    tmp.unlink(missing_ok=True)
    cmd = ["java", *JVM_FLAGS, f"-XX:ArchiveClassesAtExit={tmp}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath(cp, jars),
           "perfbench.Train", str(work), str(len(os.sched_getaffinity(0)))]
    print("[perfbench] dumping the class archive", file=sys.stderr)
    with open(work / "train.log", "wb") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    for d in work.iterdir():
        if d.is_dir():
            shutil.rmtree(d, ignore_errors=True)
    if r.returncode != 0 or not tmp.is_file():
        print(f"[perfbench] no class archive (see {work / 'train.log'})", file=sys.stderr)
        dest.unlink(missing_ok=True)
        return None
    tmp.replace(dest)
    (OUT / "app.jsa.stamp").write_text(stamp)
    return dest


def classpath(cp, jars):
    return os.pathsep.join([str(c) for c in cp] + [str(jars / "*")])


def build(trace):
    """Build what a run needs; returns (java command prefix, class path).
    The archived class path comes first, so the traced unit appends to it."""
    jars = spark_jars()
    OUT.mkdir(parents=True, exist_ok=True)
    program = compile_unit("program", [ROOT / "src" / "main" / "scala"],
                           ROOT / "src" / "main" / "resources", [], jars)
    core = compile_unit("core", [ROOT / "perfbench" / "scala" / "core"], None, [program], jars)
    cp = [package(core), package(program)]
    jsa = class_archive(cp, jars)
    java = ["java", *JVM_FLAGS] + ([f"-XX:SharedArchiveFile={jsa}"] if jsa else [])
    path = classpath(cp, jars)
    if trace:
        path += os.pathsep + str(compile_unit(
            "trace", [ROOT / "perfbench" / "scala" / "trace"], None, [core, program], jars))
    return java, path


if __name__ == "__main__":
    try:
        _, path = build(trace=True)
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    print(path)
