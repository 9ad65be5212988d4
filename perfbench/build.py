#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/scala) with
the Scala compiler that ships in the Spark distribution, into
.bench_build/classes-<hash of the sources>/.  A build whose sources are
unchanged is reused.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME`, else the installation
    that `spark-submit` on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Spark distribution with a Scala compiler at {jars.parent}")
    return jars


def sources():
    files = []
    for d in SOURCES:
        if not d.is_dir():
            sys.exit(f"build: source directory {d.relative_to(ROOT)} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + sorted(p for p in RESOURCES.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    jars = spark_jars()
    files = sources()
    classes = OUT / f"classes-{fingerprint(files)}"
    if (classes / "BUILD_OK").exists():
        return classes
    tmp = OUT / f"{classes.name}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{args}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    args.unlink()
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    (tmp / "BUILD_OK").write_text("ok\n")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
