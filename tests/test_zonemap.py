"""Zone-map index + Z-order clustering (sources/zonemap.py,
sources/maintenance.py): Morton-code correctness, index completeness,
pruned-scan bit-equality, measured file skipping, and the 2-D-box
advantage of Z-order over 1-D range clustering."""

from __future__ import annotations

from datetime import date

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.sources import maintenance as mt
from mmw_geoprocessing_spark.sources import zonemap as zm

SF_DIR = "/root/testdata/sf0.001"


def _match(spark_df, duck, sql):
    a = spark_df.toPandas()
    b = duck.execute(sql).df()
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


# ----------------------------------------------------------- Morton code


def _morton_ref(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue16_matches_reference(spark):
    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
    df = spark.createDataFrame(pts, "x int, y int").withColumn(
        "z", mt._zvalue16(F.col("x"), F.col("y"))
    )
    for r in df.collect():
        assert r["z"] == _morton_ref(r["x"], r["y"]), (r["x"], r["y"])


def test_bucket16_bounds(spark):
    df = spark.range(1).select(
        mt._bucket16(F.lit(5.0), 5.0, 5.0).alias("degenerate"),
        mt._bucket16(F.lit(0.0), 0.0, 10.0).alias("lo"),
        mt._bucket16(F.lit(10.0), 0.0, 10.0).alias("hi"),
        mt._bucket16(F.lit(99.0), 0.0, 10.0).alias("clamped"),
    ).collect()[0]
    assert df["degenerate"] == 0
    assert df["lo"] == 0
    assert df["hi"] == 65535
    assert df["clamped"] == 65535


# ------------------------------------------------------- zone-map basics


@pytest.fixture(scope="module")
def date_clustered(spark, tables, tmp_path_factory):
    """orders range-clustered by o_orderdate into 16 files."""
    base = tmp_path_factory.mktemp("zmap")
    frag = str(base / "frag")
    dst = str(base / "clustered")
    tables["orders"].repartition(8).write.parquet(frag)
    _, nbytes = mt.parquet_dir_stats(spark, frag)
    mt.compact_parquet_dir(
        spark, frag, dst,
        target_bytes=max(1, nbytes // 16 + 1),
        sort_cols=["o_orderdate"],
    )
    return dst


def test_zonemap_covers_every_file(spark, date_clustered):
    n_files, _ = mt.parquet_dir_stats(spark, date_clustered)
    idx = zm.build_zonemap(date_clustered, spark, ["o_orderdate"])
    rows = idx.collect()
    assert len(rows) == n_files
    total_rows = sum(r["n_rows"] for r in rows)
    assert total_rows == spark.read.parquet(date_clustered).count()
    for r in rows:
        assert r["min_o_orderdate"] <= r["max_o_orderdate"]


def test_pruned_read_bit_equal_and_skips_files(spark, date_clustered):
    """The core contract: pruned scan ≡ full scan + filter, while
    opening strictly fewer files on a clustered layout."""
    idx = zm.build_zonemap(date_clustered, spark, ["o_orderdate"])
    box = {"o_orderdate": (date(1997, 1, 1), date(1997, 12, 31))}
    pruned, stats = zm.zonemap_pruned_read(spark, idx, box, schema_src=date_clustered)
    full = spark.read.parquet(date_clustered).where(
        F.col("o_orderdate").between(*box["o_orderdate"])
    )
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0
    # one year is ~1/7 of the 1995-2001 fixture span: a date-clustered layout must
    # skip most of its 16 files
    assert stats["files_read"] < stats["files_total"]
    assert stats["files_read"] <= stats["files_total"] // 2


def test_all_files_pruned_returns_empty_with_schema(spark, date_clustered):
    idx = zm.build_zonemap(date_clustered, spark, ["o_orderdate"])
    box = {"o_orderdate": (date(2050, 1, 1), date(2051, 1, 1))}
    pruned, stats = zm.zonemap_pruned_read(spark, idx, box, schema_src=date_clustered)
    assert stats["files_read"] == 0
    assert pruned.count() == 0
    assert "o_orderkey" in pruned.columns


# ------------------------------------------------------------- Z-order


def test_zorder_beats_1d_clustering_on_other_dim(spark, tables, date_clustered,
                                                 tmp_path):
    """A predicate on the NON-clustered dimension skips nothing on a
    1-D layout but prunes on the Z-ordered one — the reason Z-order
    exists."""
    frag = str(tmp_path / "zfrag")
    zdst = str(tmp_path / "zdst")
    tables["orders"].repartition(8).write.parquet(frag)
    mt.zorder_parquet_dir(
        spark, frag, zdst, "o_custkey", "o_orderdate", n_files=16
    )
    n_files, _ = mt.parquet_dir_stats(spark, zdst)
    assert n_files >= 8  # range-partitioner may merge near-empty ranges

    max_ck = tables["orders"].agg(F.max("o_custkey")).collect()[0][0]
    box = {"o_custkey": (1, max(1, max_ck // 16))}  # 1/16 of the key dim

    idx_1d = zm.build_zonemap(date_clustered, spark, ["o_custkey"])
    idx_z = zm.build_zonemap(zdst, spark, ["o_custkey"])
    _, s1 = zm.zonemap_pruned_read(spark, idx_1d, box, schema_src=date_clustered)
    _, sz = zm.zonemap_pruned_read(spark, idx_z, box, schema_src=zdst)
    # date-clustering scatters custkey across (essentially) all files;
    # z-order fixes the top custkey bits inside each file, so the
    # low-custkey box touches only the matching Morton blocks
    assert s1["files_read"] >= s1["files_total"] - 1
    assert sz["files_read"] <= sz["files_total"] // 2
    assert sz["files_read"] < s1["files_read"]

    # and the pruned read is still exact
    pruned, _ = zm.zonemap_pruned_read(spark, idx_z, box, schema_src=zdst)
    full = spark.read.parquet(zdst).where(F.col("o_custkey").between(*box["o_custkey"]))
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0


def test_zorder_preserves_rows(spark, tables, tmp_path):
    frag = str(tmp_path / "pfrag")
    zdst = str(tmp_path / "pz")
    tables["orders"].repartition(4).write.parquet(frag)
    mt.zorder_parquet_dir(spark, frag, zdst, "o_custkey", "o_orderdate", n_files=8)
    before = spark.read.parquet(frag)
    after = spark.read.parquet(zdst)
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


# ------------------------------------------------- registered queries


def test_registered_zorder_box_matches_oracle(spark, tables, duck):
    out = mt.zorder_box_query(spark, SF_DIR)
    # guard against a silently-empty box (the fixture dates span
    # 1995-2001, NOT TPC-H's 1992-1998 — this bit once)
    assert out.count() > 0
    _match(out, duck, mt.zorder_box_query_sql())


def test_registered_zonemap_prune_matches_oracle(spark, tables, duck):
    _match(
        mt.zonemap_prune_orders(spark, SF_DIR), duck,
        mt.zonemap_prune_orders_sql(),
    )


# ------------------------------------------- copy-on-write delete


def test_targeted_delete_rewrites_only_located_files(spark, tables, tmp_path):
    frag = str(tmp_path / "dfrag")
    src = str(tmp_path / "dsrc")
    delta = str(tmp_path / "ddelta")
    tables["orders"].repartition(8).write.parquet(frag)
    _, nbytes = mt.parquet_dir_stats(spark, frag)
    mt.compact_parquet_dir(
        spark, frag, src, target_bytes=max(1, nbytes // 16 + 1),
        sort_cols=["o_orderkey"],
    )
    n_files, _ = mt.parquet_dir_stats(spark, src)
    keys = [0, 700]
    stats = mt.targeted_delete(spark, src, delta, "o_orderkey", keys)
    # key-clustered layout: each key lives in exactly one file
    assert stats["files_total"] == n_files
    assert 1 <= stats["files_rewritten"] <= len(keys)
    assert stats["files_rewritten"] < stats["files_total"]
    # manifest preserves the untouched files verbatim
    assert len(stats["manifest"]) >= stats["files_total"] - stats["files_rewritten"]

    after = spark.read.parquet(*stats["manifest"])
    expect = spark.read.parquet(src).where(~F.col("o_orderkey").isin(keys))
    assert after.exceptAll(expect).count() == 0
    assert expect.exceptAll(after).count() == 0
    # and the keys are really gone
    assert after.where(F.col("o_orderkey").isin(keys)).count() == 0


def test_targeted_delete_missing_keys_touch_nothing(spark, tables, tmp_path):
    frag = str(tmp_path / "mfrag")
    src = str(tmp_path / "msrc")
    tables["orders"].repartition(4).write.parquet(frag)
    _, nbytes = mt.parquet_dir_stats(spark, frag)
    mt.compact_parquet_dir(
        spark, frag, src, target_bytes=max(1, nbytes // 8 + 1),
        sort_cols=["o_orderkey"],
    )
    stats = mt.targeted_delete(
        spark, src, str(tmp_path / "mdelta"), "o_orderkey",
        [10_000_000_000, 10_000_000_001],  # outside every envelope
    )
    assert stats["files_rewritten"] == 0
    assert len(stats["manifest"]) == stats["files_total"]


def test_registered_delete_rows_matches_oracle(spark, tables, duck):
    out = mt.delete_rows_orders(spark, SF_DIR)
    assert out.count() > 0
    assert out.where(F.col("o_orderkey").isin(mt.DELETE_KEYS)).count() == 0
    _match(out, duck, mt.delete_rows_orders_sql())


# -------------------------------------- vacuum + incremental index


def test_vacuum_removes_only_unreferenced_files(spark, tables, tmp_path):
    """Delete job then VACUUM: orphaned (rewritten-away) files go,
    manifest files stay, and the manifest read is unchanged."""
    frag = str(tmp_path / "vfrag")
    src = str(tmp_path / "vsrc")
    delta = str(tmp_path / "vdelta")
    tables["orders"].repartition(8).write.parquet(frag)
    _, nbytes = mt.parquet_dir_stats(spark, frag)
    mt.compact_parquet_dir(
        spark, frag, src, target_bytes=max(1, nbytes // 16 + 1),
        sort_cols=["o_orderkey"],
    )
    stats = mt.targeted_delete(spark, src, delta, "o_orderkey", [0, 700])
    assert stats["files_rewritten"] > 0
    before = spark.read.parquet(*stats["manifest"]).count()

    n_src_before, _ = mt.parquet_dir_stats(spark, src)
    gc = mt.vacuum(spark, [src, delta], stats["manifest"])
    assert gc["removed"] == stats["files_rewritten"]
    assert gc["kept"] == len(stats["manifest"])
    n_src_after, _ = mt.parquet_dir_stats(spark, src)
    assert n_src_after == n_src_before - stats["files_rewritten"]
    # the table is intact through the manifest
    assert spark.read.parquet(*stats["manifest"]).count() == before


def test_extend_zonemap_appends_new_files_only(spark, tables, tmp_path):
    base = str(tmp_path / "ibase")
    extra = str(tmp_path / "iextra")
    tables["orders"].where(F.col("o_orderkey") < 1000).repartition(4).write.parquet(base)
    tables["orders"].where(F.col("o_orderkey") >= 1000).repartition(2).write.parquet(extra)
    idx = zm.build_zonemap(base, spark, ["o_orderkey"])
    full = zm.extend_zonemap(idx, extra, spark, ["o_orderkey"])
    n_base, _ = mt.parquet_dir_stats(spark, base)
    n_extra, _ = mt.parquet_dir_stats(spark, extra)
    assert full.count() == n_base + n_extra
    # the extended index plans correctly across both dirs
    pruned, stats = zm.zonemap_pruned_read(
        spark, full, {"o_orderkey": (1200, 1400)}, schema_src=base
    )
    expect = tables["orders"].where(F.col("o_orderkey").between(1200, 1400))
    assert pruned.exceptAll(expect).count() == 0
    assert expect.exceptAll(pruned).count() == 0
    # base-dir files (all keys < 1000) must be skipped entirely
    assert stats["files_read"] <= n_extra


def test_snapshot_reads_and_vacuum_retention(spark, tables, tmp_path):
    """Manifests ARE snapshots: v0 (pre-delete) stays readable after
    the delete job (copy-on-write never mutates v0's files) — until
    VACUUM against v1 reclaims the rewritten-away files. This is why
    deployments put a retention window between snapshot and GC."""
    frag = str(tmp_path / "sfrag")
    src = str(tmp_path / "ssrc")
    delta = str(tmp_path / "sdelta")
    tables["orders"].repartition(8).write.parquet(frag)
    _, nbytes = mt.parquet_dir_stats(spark, frag)
    mt.compact_parquet_dir(
        spark, frag, src, target_bytes=max(1, nbytes // 16 + 1),
        sort_cols=["o_orderkey"],
    )
    v0 = mt.list_parquet_files(spark, src)
    n_total = spark.read.parquet(*v0).count()

    stats = mt.targeted_delete(spark, src, delta, "o_orderkey", [0, 700])
    v1 = stats["manifest"]
    # both snapshots are live and consistent after the delete
    assert spark.read.parquet(*v0).count() == n_total
    n_v1 = spark.read.parquet(*v1).count()
    assert n_v1 < n_total

    mt.vacuum(spark, [src, delta], v1)
    # v1 survives GC; v0's rewritten-away files are gone
    assert spark.read.parquet(*v1).count() == n_v1
    remaining = set(mt.list_parquet_files(spark, src) +
                    mt.list_parquet_files(spark, delta))
    assert any(f not in remaining for f in v0)


def test_zonemap_on_string_column(spark, tables, tmp_path):
    """min/max envelopes work on any orderable type — string columns
    (domain/URL pruning in a curation pipeline) included."""
    frag = str(tmp_path / "tfrag")
    dst = str(tmp_path / "tsorted")
    tables["documents"].repartition(4).write.parquet(frag)
    _, nbytes = mt.parquet_dir_stats(spark, frag)
    mt.compact_parquet_dir(
        spark, frag, dst, target_bytes=max(1, nbytes // 8 + 1),
        sort_cols=["source"],
    )
    idx = zm.build_zonemap(dst, spark, ["source"])
    srcs = sorted(
        r["source"]
        for r in tables["documents"].select("source").distinct().collect()
    )
    lo = hi = srcs[0]  # a single-domain point lookup
    pruned, stats = zm.zonemap_pruned_read(
        spark, idx, {"source": (lo, hi)}, schema_src=dst
    )
    expect = spark.read.parquet(dst).where(F.col("source") == lo)
    assert pruned.exceptAll(expect).count() == 0
    assert expect.exceptAll(pruned).count() == 0
    if len(srcs) > 2:
        assert stats["files_read"] < stats["files_total"]


def test_zvalue_n_three_columns_matches_reference(spark):
    def ref3(x, y, w):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (3 * i)
            z |= ((y >> i) & 1) << (3 * i + 1)
            z |= ((w >> i) & 1) << (3 * i + 2)
        return z

    pts = [(0, 0, 0), (65535, 65535, 65535), (1, 2, 4), (40000, 123, 9999)]
    df = spark.createDataFrame(pts, "x int, y int, w int").withColumn(
        "z", mt._zvalue_n([F.col("x"), F.col("y"), F.col("w")])
    )
    for r in df.collect():
        assert r["z"] == ref3(r["x"], r["y"], r["w"]), (r["x"], r["y"], r["w"])


def test_time_travel_versions_coexist(spark, tables):
    """After the CoW delete commits v1, BOTH snapshots read correctly
    from the same layout in the same session: v0 shows the deleted
    keys, v1 does not — and v0 ∖ v1 is exactly the delete set."""
    from tests.conftest import SF_DIR

    v1 = mt.delete_rows_orders(spark, SF_DIR)
    v0 = mt.time_travel_orders(spark, SF_DIR)
    v0_keys = {r["o_orderkey"] for r in v0.select("o_orderkey").collect()}
    v1_keys = {r["o_orderkey"] for r in v1.select("o_orderkey").collect()}
    assert set(mt.DELETE_KEYS) <= v0_keys
    assert not (set(mt.DELETE_KEYS) & v1_keys)
    assert v0_keys - v1_keys == set(mt.DELETE_KEYS)
    # v0 is the world exactly as it was: full orders table
    assert len(v0_keys) == tables["orders"].count()


def test_metadata_plane_scales_to_5k_files_driver_bounded(spark):
    """r10 verdict #7: the layout services were only ever driven at
    64-200 files. Synthesize a 5 000-file zone map (metadata rows only
    — no data rewrite needed: the index IS the metadata plane) and pin
    that the serving paths' driver-side row counts are bounded by
    SELECTIVITY, not inventory size:
    - prune_files collects only survivors (its collect_list skips
      pruned files), one aggregation job;
    - locate_touched_files (the delete path's file location) returns
      keys-hit files from a broadcast range join;
    - the kept list is a distributed anti-join (targeted_delete's
      manifest-write collect is the ONLY full-size transfer left)."""
    n_files, rows_per = 5000, 1000
    synth = (
        spark.range(n_files)
        .selectExpr(
            "concat('file:///tab/f', id, '.parquet') AS file",
            f"CAST({rows_per} AS BIGINT) AS n_rows",
            f"id * {rows_per} AS min_o_orderkey",
            f"(id + 1) * {rows_per} - 1 AS max_o_orderkey",
        )
    )
    # a 17-file range out of 5000
    lo, hi = 1_200_000, 1_216_999
    files, total = zm.prune_files(synth, {"o_orderkey": (lo, hi)})
    assert total == n_files
    assert len(files) == 17, len(files)

    keys = [5, 777_777, 3_999_999]  # 3 distinct files
    keys_df = spark.createDataFrame([(k,) for k in keys], "__k: bigint")
    touched = mt.locate_touched_files(synth, "o_orderkey", keys_df)
    got = sorted(r["file"] for r in touched.collect())
    assert got == [
        "file:///tab/f0.parquet",
        "file:///tab/f3999.parquet",
        "file:///tab/f777.parquet",
    ]
    kept_n = (
        synth.select("file").join(touched, "file", "left_anti").count()
    )
    assert kept_n == n_files - 3


def test_zvalue_n_four_columns_nonnegative_and_ordered(spark):
    """r10 ADVICE: with 16-bit buckets, bit 15 of the 4th column landed
    at position 63 — the sign bit — making top-half rows NEGATIVE, so
    repartitionByRange clustered them at the wrong end. k=4 now uses
    15-bit buckets (top position 14*4+3 = 59): every code must be
    non-negative, and the all-max corner must still sort above the
    all-min corner."""

    def ref4_15bit(cols):
        z = 0
        for j, v in enumerate(cols):
            v >>= 1  # 16-bit bucket -> 15-bit
            for i in range(15):
                z |= ((v >> i) & 1) << (4 * i + j)
        return z

    pts = [
        (0, 0, 0, 0),
        (65535, 65535, 65535, 65535),  # the sign-bit trap before the fix
        (0, 0, 0, 65535),              # bit 15 of col j=3 alone
        (32768, 32768, 32768, 32768),
        (1, 2, 4, 8),
    ]
    df = spark.createDataFrame(pts, "a int, b int, c int, d int").withColumn(
        "z", mt._zvalue_n([F.col("a"), F.col("b"), F.col("c"), F.col("d")])
    )
    rows = {(r["a"], r["b"], r["c"], r["d"]): r["z"] for r in df.collect()}
    for key, z in rows.items():
        assert z >= 0, f"negative Morton code for {key}: {z}"
        assert z == ref4_15bit(list(key)), key
    assert rows[(65535,) * 4] > rows[(32768,) * 4] > rows[(0, 0, 0, 0)]


def test_zorder_three_columns_prunes_each_dim(spark, tables, tmp_path):
    """3-D Morton: a tight predicate on ANY single dimension prunes."""
    frag = str(tmp_path / "z3frag")
    zdst = str(tmp_path / "z3dst")
    tables["orders"].repartition(8).write.parquet(frag)
    mt.zorder_parquet_dir(
        spark, frag, zdst, "o_custkey", "o_orderdate",
        n_files=32, more_cols=["o_totalprice"],
    )
    after = spark.read.parquet(zdst)
    _same_rows = spark.read.parquet(frag)
    assert after.exceptAll(_same_rows).count() == 0

    maxes = tables["orders"].agg(
        F.max("o_custkey").alias("ck"), F.max("o_totalprice").alias("tp")
    ).collect()[0]
    for col, hi in [("o_custkey", max(1, maxes["ck"] // 16)),
                    ("o_totalprice", maxes["tp"] / 16.0)]:
        idx = zm.build_zonemap(zdst, spark, [col])
        pruned, stats = zm.zonemap_pruned_read(
            spark, idx, {col: (0, hi)}, schema_src=zdst
        )
        # 3-D locality is weaker than 2-D (top bits split 3 ways) but a
        # 1/16-of-range predicate must still skip files
        assert stats["files_read"] < stats["files_total"], col
        expect = spark.read.parquet(zdst).where(F.col(col).between(0, hi))
        assert pruned.exceptAll(expect).count() == 0
        assert expect.exceptAll(pruned).count() == 0


def test_merge_on_read_delete_matches_cow_and_oracle(spark, tables, duck):
    """Both delete strategies must be indistinguishable to readers."""
    mor = mt.delete_rows_orders_mor(spark, SF_DIR)
    cow = mt.delete_rows_orders(spark, SF_DIR)
    assert mor.exceptAll(cow).count() == 0
    assert cow.exceptAll(mor).count() == 0
    assert mor.where(F.col("o_orderkey").isin(mt.DELETE_KEYS)).count() == 0
    _match(mor, duck, mt.delete_rows_orders_mor_sql())
    # the MoR read plans a broadcast anti-join, never a shuffle of the scan
    plan = mor._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q6_clustered_prunes_files_and_matches_raw(spark, tables):
    """Q6 through the shipdate-clustered layout: the zone map must
    prune to the files overlapping the Q6 year (files_read <<
    files_total — the 100 TB evidence line; at hot-cache local scale
    the extra planning job can exceed the saved I/O), and the result
    must equal the raw-scan plan."""
    from datetime import datetime

    from mmw_geoprocessing_spark.operators import tpch
    from tests.conftest import SF_DIR

    clustered = tpch.q6_forecast_revenue_clustered(spark, SF_DIR).collect()
    raw = tpch.q6_forecast_revenue(tables["lineitem"]).collect()
    assert [tuple(r) for r in clustered] == [tuple(r) for r in raw]

    dst = mt.clustered_lineitem_dir(spark, SF_DIR)
    zmap = spark.read.parquet(mt._ensure_zonemap(spark, dst, ["l_shipdate"]))
    files, total = zm.prune_files(
        zmap, {"l_shipdate": (datetime(1996, 1, 1), datetime(1997, 1, 1))}
    )
    assert len(files) < total, (len(files), total)
