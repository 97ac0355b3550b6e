"""Build file of the lake benchmark.

Compiles the engine sources (`src/main/scala`) together with the
benchmark runner (`lakebench/src`) with the Scala compiler that ships in
the Spark distribution, into `.bench_build/classes-<hash>/`. The hash
covers every source and resource file, so a changed tree rebuilds and an
unchanged one reuses the classes.

    python3 lakebench/build.py        # build (or reuse) and print the dir
"""

import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution found; set SPARK_HOME")


def _files(top, suffixes):
    out = []
    for d, _, names in os.walk(top):
        out.extend(os.path.join(d, n) for n in names if n.endswith(suffixes))
    return sorted(out)


def inputs():
    """Source files to compile and resource files to copy."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BuildError(f"engine sources not found under {engine}")
    sources = _files(engine, (".scala",)) + _files(
        os.path.join(ROOT, "lakebench", "src"), (".scala",))
    resources = os.path.join(ROOT, "src", "main", "resources")
    res = _files(resources, ("",)) if os.path.isdir(resources) else []
    return sources, res, resources


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return (classes dir, source hash)."""
    sources, res, res_root = inputs()
    digest = source_hash(sources + res)
    out = os.path.join(BUILD_DIR, f"classes-{digest[:16]}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    print(f"lakebench: compiling {len(sources)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", tmp] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for f in res:
        dest = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"lakebench: {e}", file=sys.stderr)
        sys.exit(2)
