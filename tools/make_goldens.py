"""(Re)generate tests/golden/*.json — frozen result snapshots at
sf0.001, the engine's analogue of the reference's 434 checked-in golden
JSONs (scripts/benchmark-mapshed:146, SURVEY.md §5).

Round 6 completes the discipline:
- EVERY registry query (one frozen snapshot per `queries()` entry)
  — a second, oracle-independent line of defense;
- the FULL subbasin sweep: every MapShed AOI (huc8_01 + 8 HUC-12
  subbasins) x every one of the 7 reference templates as an individual
  golden (63 files) — the analogue of the reference's 427 per-HUC-12
  files (`huc12_54842_nlcd_streams.json`,
  scripts/benchmark-subbasin:110-121).

Run deliberately (results are then frozen in git and diffed at 1e-8 by
tests/test_golden.py); never run from tests. The snapshot format is
``{"columns": [...], "rows": [[...], ...]}`` with rows sorted by their
JSON encoding — the same canonical order the test re-applies.

Usage: python tools/make_goldens.py [name ...]   (default: all)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden"
)
SF_DIR = "/root/testdata/sf0.001"

def subbasin_case(spark, aoi_id: str, template: str):
    """Build one (AOI, template) case of the reference's subbasin sweep
    (shared with tests/test_golden): the mapshed template restricted to
    a single AOI — one golden per case, like the reference's per-HUC-12
    output files."""
    from mmw_geoprocessing_spark.operators import mapshed
    from mmw_geoprocessing_spark.sources import fixtures as fx
    from mmw_geoprocessing_spark.sources.tables import register_views

    from pyspark.sql import functions as F

    register_views(spark, SF_DIR)
    kind, rasters, target = mapshed.TEMPLATES[template]
    # per-AOI mask fixture (not mask_all): the 29 sweep-only subbasins
    # (huc12_33..61) are deliberately absent from mask_all; the per-AOI
    # path yields identical rows for the AOIs that ARE in mask_all
    # (same pixel set), so pre-existing frozen goldens stay valid.
    m = fx.mask_df(spark, aoi_id).withColumn("aoi_id", F.lit(aoi_id))
    return mapshed.template_df(
        template, kind, [fx.raster_df(spark, r) for r in rasters],
        fx.raster_df(spark, target) if target else None, m, fx.line_pixels_df(spark),
    )


def subbasin_cases() -> list[tuple[str, str, str]]:
    """(golden name, aoi_id, template) for the full sweep."""
    from mmw_geoprocessing_spark.operators import mapshed

    return [
        (f"sub_{aoi}_{tpl}", aoi, tpl)
        for aoi in mapshed.SWEEP_AOIS
        for tpl in mapshed.TEMPLATES
    ]


def pii_injected_docs(spark):
    """documents with one synthetic email/ipv4/phone/ssn appended per doc
    (the same injection tests/test_pipelines.py uses cross-engine)."""
    from mmw_geoprocessing_spark.sources.tables import register_views

    register_views(spark, SF_DIR)
    return spark.sql(
        "SELECT doc_id, text || ' u' || CAST(doc_id AS STRING) || '@ex.org"
        " 10.0.0.' || CAST(doc_id % 255 AS STRING) ||"
        " ' 555-867-5309 123-45-6789' AS text FROM documents"
    )


def lib_cases() -> dict:
    """Library cases that are not registry entries (pipelines, PII,
    components, sampling): goldens give them the same frozen regression
    line the registry queries have. k-means is excluded deliberately —
    its centroid means are partitioning-sensitive at ~1e-12, which can
    flip near-tie assignments across environments; its oracle is the
    numpy replica in tests/test_clustering.py."""
    from mmw_geoprocessing_spark.operators import dedup as dd
    from mmw_geoprocessing_spark.operators import pipelines as pl
    from mmw_geoprocessing_spark.operators import sampling as sp
    from mmw_geoprocessing_spark.operators import text_analysis as ta
    from mmw_geoprocessing_spark.sources.tables import load_tables

    def docs(spark):
        return load_tables(spark, SF_DIR)["documents"]

    def png_media(spark):
        from mmw_geoprocessing_spark.functions import png_codec

        rows = [
            (
                i,
                bytearray(
                    png_codec.encode_png(
                        [
                            [
                                ((x * 37 + y * 11 + i) % 256, (x * 5 + i) % 256, (y * 7) % 256)
                                for x in range(6)
                            ]
                            for y in range(4)
                        ],
                        "RGB",
                    )
                ),
            )
            for i in range(8)
        ]
        return spark.createDataFrame(rows, "doc_id long, payload binary")

    from mmw_geoprocessing_spark.operators import multimodal as mm

    return {
        "lib_curate_corpus": lambda s: pl.curate_corpus(docs(s)),
        "lib_normalize_text": lambda s: ta.normalize_text(docs(s)),
        "lib_image_resize": lambda s: mm.image_resize(png_media(s), 3, 2),
        "lib_neardup_components": lambda s: dd.neardup_components(docs(s)),
        "lib_pii_counts": lambda s: ta.pii_counts(pii_injected_docs(s)),
        "lib_pii_redact": lambda s: ta.pii_redact(pii_injected_docs(s)),
        "lib_deterministic_split": lambda s: sp.deterministic_split(docs(s)).select(
            "doc_id", "split"
        ),
        "lib_stratified_sample": lambda s: sp.stratified_sample(
            docs(s), strata_col="lang", fraction=0.5
        ).select("doc_id", "lang"),
        "lib_pack_token_batches": lambda s: sp.pack_token_batches(
            docs(s), budget=256, n_buckets=8
        ),
        "lib_contamination_check": lambda s: ta.contamination_check(
            docs(s), docs(s).where("doc_id % 101 = 7"), n=13
        ),
    }


def _coerce(v):
    if isinstance(v, bytes):
        return {"__hex__": v.hex()}
    if hasattr(v, "isoformat"):
        return {"__ts__": v.isoformat()}
    return v


def snapshot(name: str, df, extra: dict | None = None) -> str:
    cols = df.columns
    rows = [[_coerce(r[c]) for c in cols] for r in df.collect()]
    rows.sort(key=lambda row: json.dumps(row, default=str))
    path = os.path.join(GOLDEN_DIR, f"{name}_sf0.001.json")
    with open(path, "w") as f:
        json.dump({"columns": cols, "rows": rows, **(extra or {})}, f)
    print(f"{path}: {len(rows)} rows x {len(cols)} cols")
    return path


def main() -> None:
    import __spark_entry__ as entrymod
    from mmw_geoprocessing_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(app_name="make-goldens")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in sorted(qs):
        if only and name not in only:
            continue
        snapshot(name, qs[name](spark, SF_DIR))
    for name, aoi, tpl in subbasin_cases():
        if only and name not in only:
            continue
        snapshot(name, subbasin_case(spark, aoi, tpl), {"aoi": aoi, "template": tpl})
    for name, build in sorted(lib_cases().items()):
        if only and name not in only:
            continue
        snapshot(name, build(spark))
    spark.stop()


if __name__ == "__main__":
    main()
