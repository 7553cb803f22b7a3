"""The benchmark's own test: its smoke mode runs every workload, untraced
and traced, on sf0.001 for a few seconds, and fails unless the printed
metric names match BENCHMARK.json, every oracle check passes and every
span dump parses.

    python3 -m pytest perfbench/test_perfbench.py
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke():
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
