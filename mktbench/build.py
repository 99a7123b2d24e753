#!/usr/bin/env python3
"""Build step of the benchmark: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`mktbench/harness/src`)
are compiled with the Scala compiler that ships among the Spark jars the
project builds against (the `unmanagedBase` of the repo's `build.sbt`,
else `$SPARK_HOME/jars`). Outputs go to `.bench_build/build/<key>`,
where the key hashes every source file, so an unchanged tree is built
once. The catalog tables are generated the same way, keyed by the
generator's own source.

    python3 mktbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = ".bench_build"
CATALOG_SF = 0.01


class BuildError(Exception):
    pass


def spark_jars(root: str) -> str:
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def _key(files: list, salt: str) -> str:
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(jars: str, classpath: str, out: str, srcs: list) -> None:
    tool = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(tool):
        raise BuildError(f"no Scala compiler among {jars}")
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(t[0] for t in tool),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-3000:])


def build(root: str) -> str:
    """Compiles if needed; returns the runtime classpath."""
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/src/*.scala")))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    jars = spark_jars(root)
    jar_glob = os.path.join(jars, "*")
    key = _key(prog + harness, jars)
    dest = os.path.join(root, OUT, "build", key)
    classpath = ":".join([os.path.join(dest, "program"), os.path.join(dest, "harness"), jar_glob])
    if os.path.exists(os.path.join(dest, "ok")):
        return classpath
    tmp = dest + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        _scalac(jars, jar_glob, os.path.join(tmp, "program"), prog)
        _scalac(jars, os.path.join(tmp, "program") + ":" + jar_glob, os.path.join(tmp, "harness"), harness)
        open(os.path.join(tmp, "ok"), "w").close()
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classpath


def catalog_data(root: str) -> str:
    """Generates the catalog tables if needed; returns their directory."""
    gen = os.path.join(HERE, "gen_tables.py")
    dest = os.path.join(root, OUT, "data", _key([gen], str(CATALOG_SF)))
    if not os.path.exists(os.path.join(dest, "ok")):
        tmp = dest + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        r = subprocess.run([sys.executable, gen, tmp, "--sf", str(CATALOG_SF)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("table generation failed:\n" + r.stdout[-3000:])
        open(os.path.join(tmp, "ok"), "w").close()
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
    return dest


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
        print(catalog_data(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build: {e}")
