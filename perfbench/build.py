#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (``src/main``) and the
benchmark's Spark harness (``perfbench/src``) with the Scala compiler that
ships in the Spark jar directory, into ``$CARGO_TARGET_DIR`` (default
``.bench_build``), and packs each into a jar (the program's jar also
carries ``src/main/resources``). No sbt, no network: the Spark jars are
the whole classpath, as in ``build.sbt``'s ``unmanagedBase``.

A build is skipped when a digest of every source file matches the last
one. A rebuild also drops the JVM class-data archive (``app.jsa``) that
``run.py`` makes from a first, untimed pass. Usage:
python3 perfbench/build.py [--root DIR]
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory build.sbt names (``unmanagedBase := file(...)``),
    else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"), recursive=True))
    return prog, bench


def _digest(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _scalac(jars, out, sources, extra_cp, log):
    os.makedirs(out, exist_ok=True)
    args = os.path.join(os.path.dirname(out), os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if extra_cp:
        cmd += ["-classpath", extra_cp]
    cmd.append("@" + args)
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise RuntimeError(f"scalac failed ({rc}) for {out}")


def archive_path(root):
    """The JVM class-data archive of the current build."""
    return os.path.join(build_dir(root), "app.jsa")


def _jar(classes, jar, extra_dirs=()):
    """Pack a class directory (and resource directories) into a jar: the
    class-data archive only takes classes from jars."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for base in (classes, *extra_dirs):
            for d, _, files in sorted(os.walk(base)):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, base))
    os.replace(tmp, jar)


def build(root):
    """Returns (classpath list, seconds spent building)."""
    t0 = time.time()
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise RuntimeError(f"Spark jar directory not found: {jars}")
    prog, bench = _sources(root)
    if not prog:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    out = build_dir(root)
    classes_p = os.path.join(out, "program")
    classes_b = os.path.join(out, "bench")
    resources = [d for d in [os.path.join(root, "src/main/resources")] if os.path.isdir(d)]
    cp = [classes_b + ".jar", classes_p + ".jar"] + sorted(glob.glob(os.path.join(jars, "*.jar")))
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    res_files = sorted(p for d in resources
                       for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    prog_digest = _digest(prog + res_files, jars)
    bench_digest = prog_digest + _digest(bench, jars)
    built = False
    for classes, digest, srcs, extra, res in (
            (classes_p, prog_digest, prog, None, resources),
            (classes_b, bench_digest, bench, classes_p, [])):
        stamp = classes + ".stamp"
        if (os.path.exists(stamp) and open(stamp).read() == digest
                and os.path.exists(classes + ".jar")):
            continue
        if not built:
            open(log, "w").close()
            if os.path.exists(archive_path(root)):
                os.remove(archive_path(root))
        built = True
        shutil.rmtree(classes, ignore_errors=True)
        if os.path.exists(stamp):
            os.remove(stamp)
        _scalac(jars, classes, srcs, extra, log)
        _jar(classes, classes + ".jar", res)
        with open(stamp, "w") as f:
            f.write(digest)
    if not built:
        return cp, 0.0
    return cp, time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=os.getcwd())
    a = ap.parse_args()
    cp, s = build(os.path.abspath(a.root))
    print(f"built in {s:.1f}s: {os.pathsep.join(cp)}")


if __name__ == "__main__":
    main()
