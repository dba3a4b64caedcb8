"""scripts/scale_rehearsal.py validates its mode against the MODES table
before it builds its 48g ``local[32]`` session."""

from __future__ import annotations

import os
import runpy
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "scale_rehearsal.py",
)

# runs the script as __main__ and reports afterwards whether pyspark was
# ever imported: without it no JVM can have started
_PROBE = """
import runpy, sys
sys.argv = [sys.argv[1], "no-such-mode"]
try:
    runpy.run_path(sys.argv[0], run_name="__main__")
finally:
    print("pyspark imported:", "pyspark" in sys.modules)
"""


def test_unknown_mode_lists_modes_and_starts_no_jvm():
    modes = runpy.run_path(SCRIPT)["MODES"]
    r = subprocess.run(
        [sys.executable, "-c", _PROBE, SCRIPT],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode != 0, r
    assert "unknown mode: no-such-mode" in r.stderr, r.stderr
    for mode in modes:
        assert mode in r.stderr, (mode, r.stderr)
    assert "pyspark imported: False" in r.stdout, r.stdout
