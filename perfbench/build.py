#!/usr/bin/env python3
"""Build graft and the benchmark harness from source, with scalac.

Usage: python3 perfbench/build.py        (prints the run classpath)

The program is compiled from src/main/scala against the jar directory
and Scala version that the root build.sbt names, so the benchmark uses
the same inputs as `sbt compile` without writing outside the checkout.
The harness (perfbench/harness) is compiled against the program's
classes. Outputs go to .bench_build/perfbench/classes; a stamp of every
input's content makes repeated runs skip the build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"


class BuildError(RuntimeError):
    pass


def toolchain(root: Path):
    """(jar dir, Scala version) from the root build.sbt."""
    sbt = root / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt at {root}: not a graft checkout")
    text = sbt.read_text()
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    if not base or not version:
        raise BuildError("build.sbt names no unmanagedBase or scalaVersion")
    jars = Path(base.group(1))
    if not jars.is_dir():
        raise BuildError(f"jar directory {jars} from build.sbt is missing")
    return jars, version.group(1)


def sources(root: Path):
    prog = sorted(glob.glob(str(root / "src/main/scala/**/*.scala"), recursive=True) +
                  glob.glob(str(root / "src/main/java/**/*.java"), recursive=True))
    harness = sorted(glob.glob(str(HERE / "harness/*.scala")))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main")
    return prog, harness


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def scalac(jars: Path, version: str, classpath, out: Path, files):
    compiler = [jars / f"scala-{m}-{version}.jar" for m in ("compiler", "library", "reflect")]
    missing = [str(c) for c in compiler if not c.is_file()]
    if missing:
        raise BuildError(f"Scala {version} toolchain jars missing: {missing}")
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = out.parent / f"{out.name}.args"
    argfile.write_text("\n".join(["-d", str(out), "-classpath", os.pathsep.join(classpath)] +
                                 [str(f) for f in files]) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(c) for c in compiler),
           "scala.tools.nsc.Main", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}")


def ensure(root: Path = ROOT, log=sys.stderr):
    """Build if any input changed; return the run classpath entries."""
    jars, version = toolchain(root)
    prog, harness = sources(root)
    spark_jars = sorted(str(j) for j in jars.glob("*.jar"))
    resources = root / "src/main/resources"
    prog_out = WORK / "classes" / "program"
    harness_out = WORK / "classes" / "harness"
    key = stamp(prog + harness + [__file__], version + str(jars))
    stamp_file = WORK / "classes" / "stamp"
    cp = [str(prog_out), str(harness_out)] + ([str(resources)] if resources.is_dir() else [])
    if stamp_file.is_file() and stamp_file.read_text() == key:
        return cp + [str(jars / "*")]
    t0 = time.time()
    print(f"perfbench: building {len(prog)} program and {len(harness)} harness sources",
          file=log, flush=True)
    stamp_file.unlink(missing_ok=True)
    scalac(jars, version, spark_jars, prog_out, prog)
    scalac(jars, version, [str(prog_out)] + spark_jars, harness_out, harness)
    stamp_file.write_text(key)
    print(f"perfbench: build done in {time.time() - t0:.1f} s", file=log, flush=True)
    return cp + [str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure()))
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
