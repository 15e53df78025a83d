#!/usr/bin/env python3
"""Builds the benchmark: compiles the engine (src/main/scala) together with
the benchmark's own sources (perfbench/scala) into
.bench_build/perfbench/classes, against the jars build.sbt compiles against
(its `unmanagedBase`, the Spark distribution), with the Scala compiler that
ships among them. Skips the compile when the sources' hash matches the last
build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def jars(root):
    """The jars build.sbt compiles against (its `unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m is None:
        sys.exit("build: build.sbt names no unmanagedBase")
    found = sorted(Path(m.group(1)).glob("*.jar"))
    if not found:
        sys.exit(f"build: no jars under {m.group(1)}")
    return found


def sources(root):
    return sorted(p for d in SOURCE_DIRS for p in (root / d).rglob("*.scala"))


def source_id(root):
    """Hash of every compiled source, by path and content."""
    h = hashlib.sha256()
    for p in sources(root):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(root):
    """Returns the classes dir, compiling first if the sources changed."""
    out = root / ".bench_build" / "perfbench"
    classes = out / "classes"
    stamp = out / "classes.stamp"
    sid = source_id(root)
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == sid:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars(root))
    compiler = [str(j) for j in jars(root)
                if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(["-d", str(tmp), "-classpath", cp, "-nowarn"] +
                                   [str(p) for p in sources(root)]) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", f"@{args_file}"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(sid)
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))
