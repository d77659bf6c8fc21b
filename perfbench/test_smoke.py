"""The benchmark's own test: ``run.py --smoke`` runs every workload in both
modes on tiny inputs (sf0.001 tables, a 100-document corpus, 10-document
live batches) and fails unless every named metric is emitted with its unit
and every output check ran and passed.

    python3 -m pytest perfbench/test_smoke.py
"""

import subprocess
import sys
from pathlib import Path


def test_smoke():
    run = Path(__file__).resolve().parent / "run.py"
    out = subprocess.run([sys.executable, str(run), "--smoke"],
                         capture_output=True, text=True, timeout=1800)
    assert out.returncode == 0, out.stdout[-4000:] + out.stderr[-4000:]
