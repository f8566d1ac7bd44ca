#!/usr/bin/env python3
"""Generator self-check for the cdc_catchup landing zone.

Usage (from the root of a checkout):
  python3 graftbench/selfcheck.py [seed]

Generates the zone twice from one seed and once from the next seed,
and compares content digests (manifest plus every folder's rows; file
names and parquet metadata excluded). Passes when the same seed gives
the same digest and the other seed a different one. Takes about a
minute on 4 cores.
"""
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent

if __name__ == "__main__":
    seed = sys.argv[1] if len(sys.argv) > 1 else "7"
    sys.exit(subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "cdc_catchup",
                             "--seed", seed, "--seconds", "1", "--trace", "0",
                             "--selfcheck"]).returncode)
