#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala` of the checkout) together with the benchmark's own
(`graftbench/src`) using the Scala compiler that ships with Spark, into
`.bench_build/graftbench-<hash>/`. A build whose source hash is already
present is reused.

Usage: python3 graftbench/build.py     (prints the build directory)
"""
import glob
import hashlib
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM = ROOT / "src" / "main" / "scala"
PROGRAM_PKG = PROGRAM / "graft"


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars (Scala compiler included)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import pyspark
        candidates.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(str(c / "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not PROGRAM_PKG.is_dir():
        raise BuildError(f"program sources not found under {PROGRAM.relative_to(ROOT)}")
    program = sorted(PROGRAM.rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    return program, bench


def module_map(program, bench):
    """`file<TAB>module` for call-site attribution: the module is the
    directory under `graft/` (`graft` for other program files), and the
    benchmark's own files belong to `bench`."""
    lines = []
    for p in program:
        rel = p.relative_to(PROGRAM_PKG).parts if p.is_relative_to(PROGRAM_PKG) else ()
        lines.append(f"{p.name}\t{rel[0] if len(rel) > 1 else 'graft'}")
    lines += [f"{p.name}\tbench" for p in bench]
    return "\n".join(lines) + "\n"


def build():
    """Compile if needed; returns (build dir, classpath)."""
    jars = spark_jars()
    program, bench = sources()
    h = hashlib.sha256()
    for p in program + bench:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(str(sorted(os.listdir(jars))).encode())
    out = ROOT / ".bench_build" / f"graftbench-{h.hexdigest()[:16]}"
    classes = out / "classes"
    classpath = [str(classes)] + sorted(glob.glob(str(jars / "*.jar")))
    if (out / "ok").exists():
        return out, classpath
    classes.mkdir(parents=True, exist_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in program + bench) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", os.pathsep.join(classpath[1:]),
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("scalac failed")
    (out / "modules.tsv").write_text(module_map(program, bench))
    (out / "ok").write_text("")
    return out, classpath


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
