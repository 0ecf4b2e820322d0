#!/usr/bin/env python3
"""Build file of the graftbench package.

Compiles the engine (`src/main/scala` of the repository) together with the
benchmark's own sources (`graftbench/src`) with the Scala compiler that
ships in Spark's `jars` directory, into `.bench_build/graftbench/classes`
of the repository. A build is reused while no source file has changed.

    python3 graftbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("graftbench: no Spark jars with a Scala compiler found; "
                         "set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe:
        raise SystemExit("graftbench: no java found; set JAVA_HOME")
    return str(exe)


def sources(repo):
    engine = repo / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        raise SystemExit(f"graftbench: no engine sources under {engine}; "
                         "run from the repository root")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(repo):
    """Compile if needed; returns the classes directory."""
    files = sources(repo)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(repo)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = repo / ".bench_build" / "graftbench"
    classes = out / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    # no perf-data file: nothing is written outside the repository
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn"] + [str(f) for f in files]
    print(f"graftbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("graftbench: compilation failed")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))
