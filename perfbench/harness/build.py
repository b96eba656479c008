#!/usr/bin/env python3
"""Build of the benchmark harness: compiles graft's sources and the
harness's in one Scala compiler run and prints the runtime classpath.

    python3 perfbench/harness/build.py [ROOT] [OUT_DIR]

ROOT is a graft checkout (default: the current directory), OUT_DIR where
the classes go (default: perfbench/work/build under ROOT). The compiler,
the Scala library and Spark all come from the jar directory graft's own
build.sbt names as its `unmanagedBase`, so the build needs only `java`
and that directory: no sbt, no dependency resolution, and nothing written
outside ROOT. It rebuilds only when a source file or build.sbt has changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HARNESS = os.path.dirname(os.path.abspath(__file__))
SOURCES = os.path.join(HARNESS, "src", "main", "scala")
LIMIT_S = 600


class BuildError(Exception):
    pass


def java():
    """The `java` on PATH, else the one under JAVA_HOME."""
    found = shutil.which("java")
    if found:
        return found
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    raise BuildError("no java: it is neither on PATH nor under JAVA_HOME")


def jar_dir(root):
    """The jar directory of graft's build (its `unmanagedBase`)."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.exists(sbt):
        raise BuildError("not a graft checkout: build.sbt is missing")
    m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read(), re.M)
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    d = os.path.join(root, m.group(1))
    if not os.path.isdir(d):
        raise BuildError(f"the jar directory {d} of build.sbt does not exist")
    return d


def scala_sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("not a graft checkout: src/main/scala is missing")
    files = []
    for base in (main, SOURCES):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(root, sources, jars):
    h = hashlib.sha256()
    for f in [os.path.join(root, "build.sbt")] + sources:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def build(root, out):
    """Compiles into `out`/classes unless the sources are unchanged since
    the last build there; returns the runtime classpath."""
    jdir = jar_dir(root)
    jars = sorted(os.path.join(jdir, j) for j in os.listdir(jdir) if j.endswith(".jar"))
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler, library and reflect jars in {jdir}")
    sources = scala_sources(root)
    classes = os.path.join(out, "classes")
    classpath = os.pathsep.join([classes] + jars)
    stamp_file = os.path.join(out, "stamp")
    want = stamp(root, sources, jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath

    # Compile into a fresh directory and move it in place at the end, so
    # an interrupted build never leaves classes behind a valid stamp.
    tmp, staging = os.path.join(out, "tmp"), os.path.join(out, "classes.new")
    for d in (staging, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", staging] + sources))
    log = os.path.join(out, "scalac.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(
                [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                 "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", f"@{args_file}"],
                cwd=out, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=LIMIT_S)
        except subprocess.TimeoutExpired:
            raise BuildError(f"the Scala compiler ran past {LIMIT_S} s; see {log}")
    if proc.returncode != 0:
        raise BuildError(f"the Scala compiler failed (exit {proc.returncode}); see {log}:\n"
                         + "".join(open(log).readlines()[-20:]))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    out = os.path.abspath(sys.argv[2] if len(sys.argv) > 2 else os.path.join(root, "perfbench", "work", "build"))
    os.makedirs(out, exist_ok=True)
    try:
        print(build(root, out))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
