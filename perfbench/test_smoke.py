"""The benchmark's own test: ``run.py --smoke`` runs every workload once
per trace mode at tiny sizes and checks that every metric named in
BENCHMARK.json is printed with its unit and every gate passes."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke():
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert p.returncode == 0, p.stdout[-4000:] + p.stderr[-4000:]
