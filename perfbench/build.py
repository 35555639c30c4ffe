#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's main Scala sources together with the harness
in perfbench/src into .bench_build/classes, with the Scala compiler that
ships among Spark's jars (no sbt, no dependency resolution). A stamp of
every source's path and content skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        raise SystemExit(f"perfbench: no program sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def build():
    """Compile if any source changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(",".join(sorted(j.name for j in jars.glob("scala-*.jar"))).encode())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(classes), "-classpath", cp, "-nowarn",
           f"-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
