"""The program names perfbench reaches into must exist.

``perfbench/tracing.py`` wraps module attributes with a bare ``getattr``
and reads a few private fixture caches at call time, so a renamed or
removed name breaks every ``--trace 1`` run. The tracer is installed in
a child process, never in the test session.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def test_tracer_installs_over_every_wrapped_name():
    code = (
        "import tracing\n"
        "tracer = tracing.install(None)\n"
        "tracer.close()\n"
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([ROOT, PERFBENCH])}
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=PERFBENCH, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_fixture_names_read_by_perfbench_exist():
    from mmw_geoprocessing_spark.sources import fixtures as fx

    names = set()
    for fname in os.listdir(PERFBENCH):
        if fname.endswith(".py"):
            with open(os.path.join(PERFBENCH, fname)) as f:
                names |= set(re.findall(r"\bfx\.(\w+)", f.read()))
    assert names
    assert [n for n in sorted(names) if not hasattr(fx, n)] == []
