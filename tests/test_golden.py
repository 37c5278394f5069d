"""Golden-file regression tests — the reference's own test strategy
(SURVEY.md §5: 434 checked-in golden JSONs verified with a 1e-8 double
tolerance, scripts/benchmark-mapshed:146). Our analogue pins the full
7-template MapShed/Subbasin suite at sf0.001 against a checked-in
snapshot, independent of the DuckDB oracle path — a second, frozen
line of defense against semantic drift."""

from __future__ import annotations

import json
import os

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
TOL = 1e-8  # the reference's dictdiffer tolerance


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a == b or abs(a - b) <= TOL
    return a == b


def test_mapshed_suite_matches_golden(spark, tables):
    import __spark_entry__ as m

    rows = m.queries()["mapshed_suite"](spark, "/root/testdata/sf0.001").collect()
    got = sorted([r["op_label"], r["aoi_id"], r["list_key"], r["value"]] for r in rows)
    with open(os.path.join(GOLDEN_DIR, "mapshed_sf0.001.json")) as f:
        want = json.load(f)
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert abs(g[3] - w[3]) <= TOL, (g, w)


import glob

import pytest

_ALL_SNAPSHOTS = sorted(
    os.path.basename(p)[: -len("_sf0.001.json")]
    for p in glob.glob(os.path.join(GOLDEN_DIR, "*_sf0.001.json"))
)
# "mapshed" (legacy 4-tuple format, test above) is separate; sub_*
# snapshots are built by tools.make_goldens.subbasin_case, not the registry
_SNAPSHOT_NAMES = [
    n
    for n in _ALL_SNAPSHOTS
    if n != "mapshed" and not n.startswith(("sub_", "lib_"))
]
_SUBBASIN_NAMES = [n for n in _ALL_SNAPSHOTS if n.startswith("sub_")]


def _coerce(v):
    if isinstance(v, bytes):
        return {"__hex__": v.hex()}
    if hasattr(v, "isoformat"):
        return {"__ts__": v.isoformat()}
    return v


def _assert_matches_golden(df, name):
    with open(os.path.join(GOLDEN_DIR, f"{name}_sf0.001.json")) as f:
        golden = json.load(f)
    cols = golden["columns"]
    got = [[_coerce(r[c]) for c in cols] for r in df.collect()]
    got.sort(key=lambda row: json.dumps(row, default=str))
    want = golden["rows"]
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        assert all(_close(x, y) for x, y in zip(g, w)), (g, w)


@pytest.mark.parametrize("name", _SNAPSHOT_NAMES)
def test_query_matches_golden(spark, tables, name):
    """One frozen snapshot per REGISTRY query — regenerated
    only via tools/make_goldens.py, diffed at 1e-8."""
    import __spark_entry__ as m

    _assert_matches_golden(
        m.queries()[name](spark, "/root/testdata/sf0.001"), name
    )


@pytest.mark.parametrize("name", _SUBBASIN_NAMES)
def test_subbasin_case_matches_golden(spark, tables, name):
    """The FULL subbasin sweep: every MapShed AOI (huc8_01 + 8 HUC-12
    subbasins) x every one of the 7 reference templates pinned as an
    individual golden — the analogue of the reference's 427 per-HUC-12
    files (scripts/benchmark-subbasin:110-121). The (aoi, template)
    pair is read from the snapshot itself, not parsed from the name."""
    from tools.make_goldens import subbasin_case

    with open(os.path.join(GOLDEN_DIR, f"{name}_sf0.001.json")) as f:
        meta = json.load(f)
    _assert_matches_golden(subbasin_case(spark, meta["aoi"], meta["template"]), name)


_LIB_NAMES = [n for n in _ALL_SNAPSHOTS if n.startswith("lib_")]


@pytest.mark.parametrize("name", _LIB_NAMES)
def test_lib_operator_matches_golden(spark, tables, name):
    """Frozen snapshots for library cases that are not registry entries
    (curation pipeline, PII, near-dup components, sampling) —
    built from the same tools.make_goldens.lib_cases registry that
    generated them."""
    from tools.make_goldens import lib_cases

    _assert_matches_golden(lib_cases()[name](spark), name)
