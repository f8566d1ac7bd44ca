#!/usr/bin/env python3
"""Run one benchmark workload from a seed and print its result.

Usage (from the root of a checkout):
  python3 graftbench/run.py --workload <cdc_catchup|cdc_sync_jdbc|analytics_mix>
                            --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use
(graftbench/build.py), runs the workload in one JVM, and prints every
metric with its unit, the output checks, and as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. Scratch data
lives under .bench_work/ and is removed when the run ends; traced runs
leave their spans under .bench_out/.

The analytics workload reads the repository's test data: the directory
named in TESTDATA.md, or GRAFT_BENCH_TESTDATA when set.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("cdc_catchup", "cdc_sync_jdbc", "analytics_mix")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def testdata_root():
    """Parent of the sfX directories: GRAFT_BENCH_TESTDATA, else the
    first scale-factor directory TESTDATA.md names."""
    if os.environ.get("GRAFT_BENCH_TESTDATA"):
        return os.environ["GRAFT_BENCH_TESTDATA"]
    doc = ROOT / "TESTDATA.md"
    m = re.search(r"`([^`]+)/sf[0-9.]+/?`", doc.read_text()) if doc.exists() else None
    if not m:
        raise build.BuildError("test data location unknown: set GRAFT_BENCH_TESTDATA")
    return m.group(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--pin", help="analytics_mix only: write query outputs here for pin.py")
    ap.add_argument("--selfcheck", action="store_true",
                    help="cdc_catchup only: check that the generator is deterministic in its seed")
    a = ap.parse_args()

    try:
        out, classpath = build.build()
        testdata = testdata_root()
    except build.BuildError as e:
        sys.exit(f"graftbench: {e}")

    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    results = ROOT / ".bench_out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(exist_ok=True)
    # A fixed-size heap and the parallel collector: no heap resizing and
    # no concurrent marking cycles that come in some runs and not others.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss16m", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graftbench.GraftBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--out", str(results),
            "--testdata", testdata, "--digests", str(HERE / "digests.json"),
            "--modules", str(out / "modules.tsv")]
    if a.pin:
        cmd += ["--pin", str(Path(a.pin).resolve())]
    if a.selfcheck:
        cmd += ["--selfcheck", "1"]
    try:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"graftbench: {a.workload} exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    if a.pin or a.selfcheck:
        sys.stdout.write(stdout)
        sys.exit(proc.returncode)
    last = lines[-1] if lines else ""
    try:
        result = json.loads(last)
    except ValueError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        sys.exit(f"graftbench: {a.workload} failed (exit {proc.returncode})")
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
