"""Structural checks of the query registry and the checking tools.

No Spark session: the registry is inspected, not run, and each tool is
only imported.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))


def test_every_query_has_an_oracle_twin():
    import __spark_entry__ as m

    queries, oracles = set(m.queries()), set(m.oracle_sql())
    assert queries == oracles, {
        "no oracle": sorted(queries - oracles),
        "no query": sorted(oracles - queries),
    }


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path, monkeypatch):
    """A tool that imports a missing module fails here, not on its next
    run; the ``__main__`` guard keeps the import free of side effects."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "_tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))
