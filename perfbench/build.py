#!/usr/bin/env python3
"""Build file of the benchmark: compiles the checkout's own engine sources
(src/main/scala) together with the harness (perfbench/src) into one class
directory, offline, with the Scala compiler that ships in Spark's jars. No
sbt and no change to build.sbt: the engine is measured from the code in the
checkout it runs in.

    python3 perfbench/build.py        # prints the class directory

Output goes to .bench_build/perfbench/<source hash>/classes; a build whose
source hash is already there is reused.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build") / "perfbench"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    submit = shutil.which("spark-submit")
    if submit:
        jars = Path(os.path.realpath(submit)).parent.parent / "jars"
        if jars.is_dir():
            return jars
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return shutil.which("java") or "java"


def sources(root: Path) -> list:
    dirs = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def source_hash(root: Path, files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def build(root: Path) -> tuple:
    """Returns (class directory, source hash, compiled now?). Concurrent
    callers in one checkout take turns on a lock file."""
    (root / BUILD_DIR).mkdir(parents=True, exist_ok=True)
    with open(root / BUILD_DIR / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(root)


def _build(root: Path) -> tuple:
    files = sources(root)
    digest = source_hash(root, files)
    out = root / BUILD_DIR / digest[:16]
    classes = out / "classes"
    if (out / "ok").exists():
        return classes, digest, False
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "tmp"
    classes.mkdir(parents=True)
    tmp.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = str(spark_jars() / "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    (out / "ok").write_text(digest + "\n")
    for old in out.parent.iterdir():
        if old.is_dir() and old != out:
            shutil.rmtree(old, ignore_errors=True)
    return classes, digest, True


if __name__ == "__main__":
    print(build(Path.cwd())[0])
