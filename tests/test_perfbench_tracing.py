"""The benchmark's traced run wraps engine, security and dialect
functions by name (perfbench/tracing.py); a rename of one of them must
fail here, not only in a traced benchmark run."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path


def test_tracer_installs():
    proc = subprocess.run(
        [sys.executable, "-c",
         "import perfbench.tracing as t; t.install_server()"],
        cwd=Path(__file__).resolve().parents[1], capture_output=True,
        text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
