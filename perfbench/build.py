"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark program (`perfbench/scala`) with the Scala compiler that ships
among the Spark jars. No build tool and no download is needed.

    python3 perfbench/build.py          # from the repository root

Output goes to `.bench_build/` (or `$CARGO_TARGET_DIR` when set): one
class directory for the engine and one for the benchmark, each rebuilt only
when a hash of its sources changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def classpath(jars):
    return sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))


def sources(d):
    out = []
    for dp, _, fs in os.walk(d):
        out += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, srcs, cp, stamp_extra):
    """Compile `srcs` into <build>/<name> unless its stamp matches."""
    out = os.path.join(build_dir(), name)
    stamp = digest(srcs, stamp_extra)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    if not srcs:
        raise SystemExit(f"perfbench: no sources for {name}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cps = os.pathsep.join(cp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cps,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cps, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out, stamp


def build():
    """Returns the runtime classpath (list of entries)."""
    jars = classpath(spark_jars())
    os.makedirs(build_dir(), exist_ok=True)
    engine_src = sources(os.path.join(ROOT, "src", "main"))
    engine, stamp = compile_tree("engine-classes", engine_src, jars, "")
    bench, _ = compile_tree("perfbench-classes", sources(os.path.join(HERE, "scala")),
                            [engine] + jars, stamp)
    return [bench, engine] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
