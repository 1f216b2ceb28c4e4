"""Guard for the benchmark's per-layer tooling.

``perfbench/tracing.py`` times each layer by wrapping named entry points
of ``bemidb_spark`` from outside. A rename of one of them would not fail
the benchmark: the metric would silently read zero. Installing the tracer
in a fresh interpreter proves every name it wraps still exists.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_tracer_installs_on_every_entry_point():
    code = (
        "import sys\n"
        f"sys.path[:0] = [{os.path.join(ROOT, 'perfbench')!r}, {ROOT!r}]\n"
        "from tracing import Tracer\n"
        "Tracer().install()\n"
        "print('installed')\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("installed")
