"""Durable on-disk index store (r10 verdict #2): the retrieval/dedup
ingest-time indexes are written once as (bucketed / partitioned)
parquet and served — bit-identically — by ANY session, including a
fresh process that never built them. Probes must prune: the bm25
postings probe bucket-prunes to the query terms' buckets, the IVF
probe dynamic-partition-prunes to the probed cells' directories.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from tests.conftest import REPO_ROOT, SF_DIR

STORE = "/tmp/spark_graft_index_store"


def _success_mtimes() -> dict[str, float]:
    return {
        d: os.path.getmtime(os.path.join(d, "_SUCCESS"))
        for d in glob.glob(f"{STORE}/sgi_*")
        if os.path.isfile(os.path.join(d, "_SUCCESS"))
    }


def test_bm25_disk_matches_fresh_and_bucket_prunes(spark, tables):
    from mmw_geoprocessing_spark.operators import search
    from mmw_geoprocessing_spark.sources.tables import load_table

    fresh = search.bm25_topk(spark, load_table(spark, SF_DIR, "documents"))
    disk = search.bm25_disk_topk(spark, SF_DIR)
    plan = disk._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "postings scan is not bucket-pruned:\n" + plan[:1500]
    assert int(m.group(1)) < int(m.group(2)), m.group(0)
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(disk.collect(), key=key) == sorted(fresh.collect(), key=key)


def test_ivf_disk_matches_and_dynamic_partition_prunes(spark, tables):
    from mmw_geoprocessing_spark.operators import similarity as sim
    from mmw_geoprocessing_spark.sources.tables import load_table

    ref = sim.ann_ivf_topk(load_table(spark, SF_DIR, "embeddings"))
    disk = sim.ann_ivf_disk_topk(spark, SF_DIR)
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, (
        "IVF list scan is not DPP-pruned:\n" + plan[:1500]
    )
    key = lambda r: (r["q_id"], r["rank"])
    assert sorted(disk.collect(), key=key) == sorted(ref.collect(), key=key)


def test_incremental_dedup_disk_matches_session_plan(spark, tables):
    from mmw_geoprocessing_spark.operators import dedup
    from mmw_geoprocessing_spark.sources.tables import load_table

    ref = dedup.incremental_batch_dedup(load_table(spark, SF_DIR, "documents"))
    disk = dedup.incremental_batch_dedup_disk(spark, SF_DIR)
    key = lambda r: r["doc_id"]
    assert sorted(disk.collect(), key=key) == sorted(ref.collect(), key=key)


def test_bm25_append_is_exactly_once_and_matches_full(spark, tables):
    """The incremental-ingest face: the drop's postings append lands
    EXACTLY ONCE (marker commit — a re-run must not duplicate rows),
    probes keep bucket-pruning across base + appended files, and the
    served ranking equals the full-corpus fresh plan."""
    import re

    from mmw_geoprocessing_spark.operators import search
    from mmw_geoprocessing_spark.sources.tables import load_table

    full = search.bm25_topk(spark, load_table(spark, SF_DIR, "documents"))
    inc = search.bm25_index_append_topk(spark, SF_DIR)
    rows1 = inc.collect()
    rows2 = search.bm25_index_append_topk(spark, SF_DIR).collect()
    plan = inc._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2))
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(rows1, key=key) == sorted(full.collect(), key=key)
    assert sorted(rows1, key=key) == sorted(rows2, key=key)
    # the commit marker exists and the second call changed nothing
    markers = glob.glob(f"{STORE}/sgi_bm25_postings_inc_*.append_drop1")
    assert markers


def test_fingerprint_tracks_source_identity(tmp_path):
    from mmw_geoprocessing_spark.sources.index_store import corpus_fingerprint

    a = corpus_fingerprint(SF_DIR, "documents")
    assert a == corpus_fingerprint(SF_DIR, "documents")  # stable
    assert a != corpus_fingerprint("/root/testdata/sf0.01", "documents")
    # touching the source changes the fingerprint
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"x")
    b1 = corpus_fingerprint(str(tmp_path), "documents")
    src.write_bytes(b"xy")
    assert corpus_fingerprint(str(tmp_path), "documents") != b1


_FRESH_PROC = r"""
import json, sys
sys.path.insert(0, %r)
from mmw_geoprocessing_spark.session import get_spark
from mmw_geoprocessing_spark.operators import search

spark = get_spark(app_name="fresh_serve", master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
rows = search.bm25_disk_topk(spark, %r).collect()
out = sorted((r["query_id"], r["doc_id"], r["rank"], r["score_scaled"]) for r in rows)
print("RESULT:" + json.dumps(out))
spark.stop()
"""


@pytest.mark.slow
def test_fresh_process_serves_from_disk_without_rebuild(spark, tables):
    """The restart story, end-to-end: a brand-new PROCESS (no session
    cache, no catalog) serves bm25 from the on-disk postings and
    returns rows identical to this session's — and the on-disk index
    is NOT rewritten (every _SUCCESS mtime is unchanged)."""
    from mmw_geoprocessing_spark.operators import search

    mine = sorted(
        (r["query_id"], r["doc_id"], r["rank"], r["score_scaled"])
        for r in search.bm25_disk_topk(spark, SF_DIR).collect()
    )
    before = _success_mtimes()
    assert before, "in-session call should have built the indexes"
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_PROC % (REPO_ROOT, SF_DIR)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    theirs = [tuple(x) for x in json.loads(line[0][len("RESULT:"):])]
    assert theirs == mine
    after = _success_mtimes()
    assert all(after.get(d) == t for d, t in before.items()), (
        "fresh process rebuilt an index it should have re-attached"
    )


def test_stream_ingest_exactly_once_under_checkpoint_loss(spark, tables):
    """Structured Streaming delivers at-least-once to foreachBatch; the
    chunk-id marker commit must make the sink exactly-once. Drain,
    DESTROY the checkpoint (the worst replay: every chunk
    re-delivered), re-drain — zero appends may happen — and the served
    ranking must equal the fresh full-corpus plan throughout."""
    import os
    import shutil
    import tempfile

    from mmw_geoprocessing_spark.operators import search
    from mmw_geoprocessing_spark.sources.tables import load_table
    from mmw_geoprocessing_spark.streaming import index_ingest as ii

    key = lambda r: (r["query_id"], r["rank"])
    full = sorted(
        search.bm25_topk(spark, load_table(spark, SF_DIR, "documents")).collect(),
        key=key,
    )
    rows = sorted(ii.stream_index_serve(spark, SF_DIR).collect(), key=key)
    assert rows == full
    from mmw_geoprocessing_spark.sources.index_store import corpus_fingerprint

    replay = ii.replay_docs_dir(spark, SF_DIR)
    ckpt = ii._face_ckpt(
        os.path.basename(replay), "bm25_postings_stream_v2", "v1",
        corpus_fingerprint(SF_DIR, "documents"),
    )
    shutil.rmtree(ckpt)
    log: list[str] = []
    ii.stream_index_ingest(spark, SF_DIR, appended_log=log)
    assert log == [], f"checkpoint-loss replay re-appended chunks: {log}"
    rows3 = sorted(ii.stream_index_serve(spark, SF_DIR).collect(), key=key)
    assert rows3 == full


# ---------------------------------------------------------------------------
# Crash-safe append commit (ADVICE r11): the v1 append made files
# visible before the marker, so a crash between the two duplicated the
# drop on replay. The v2 protocol stages invisibly, journals an intent,
# publishes, THEN commits the marker — these tests kill the writer at
# each window and prove every replay converges to exactly-once.
# ---------------------------------------------------------------------------


def _mini_index(spark, tag):
    import uuid

    from mmw_geoprocessing_spark.sources import index_store as ixs

    name = f"crashsim_{tag}"
    fp = uuid.uuid4().hex[:10]
    base = spark.createDataFrame([(i, "base") for i in range(20)], "k int, v string")
    ixs.get_or_build_index(spark, name, fp, lambda: base, bucket_col="k", n_buckets=4)
    return name, fp


def _drop_df(spark):
    return spark.createDataFrame(
        [(i, "drop") for i in range(20, 30)], "k int, v string"
    )


def _no_rebuild():
    raise AssertionError("replay after the journal must never re-run build()")


def _served_rows(spark, name, fp):
    from mmw_geoprocessing_spark.sources import index_store as ixs

    ixs.clear_index_store_cache()
    df = ixs.get_or_build_index(
        spark, name, fp, lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_append_crash_before_journal_rebuilds_exactly_once(spark, monkeypatch):
    """Writer dies while staging (before the intent journal): nothing
    was visible, so the replay re-runs build() — and the drop still
    lands exactly once."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "prejournal")

    def die(intent, files):
        raise RuntimeError("simulated crash before journal")

    monkeypatch.setattr(ixs, "_write_intent", die)
    with pytest.raises(RuntimeError, match="before journal"):
        ixs.append_once(
            spark, name, fp, "d1", lambda: _drop_df(spark),
            bucket_col="k", n_buckets=4,
        )
    assert _served_rows(spark, name, fp) == sorted(
        [(i, "base") for i in range(20)]
    ), "pre-journal crash leaked staged rows into the table"
    monkeypatch.undo()
    rebuilt = {"n": 0}

    def build():
        rebuilt["n"] += 1
        return _drop_df(spark)

    assert ixs.append_once(spark, name, fp, "d1", build, bucket_col="k", n_buckets=4)
    assert rebuilt["n"] == 1, "pre-journal replay must rebuild the drop"
    want = sorted([(i, "base") for i in range(20)] + [(i, "drop") for i in range(20, 30)])
    assert _served_rows(spark, name, fp) == want
    # a further replay is a marker no-op
    assert not ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    assert _served_rows(spark, name, fp) == want


def test_append_crash_mid_publish_rolls_forward_without_rebuild(spark, monkeypatch):
    """Writer dies halfway through publishing the journaled files: the
    replay ROLLS FORWARD from the intent (never re-running build), so
    the drop lands exactly once with no duplicated files."""
    import json as _json

    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "midpublish")
    orig = ixs._roll_forward
    state = {"crashed": False}

    def partial(intent, stage, path):
        if not state["crashed"]:
            with open(intent) as f:
                files = _json.loads(f.read())
            assert len(files) > 1, "need >=2 staged files to crash between them"
            os.rename(os.path.join(stage, files[0]), os.path.join(path, files[0]))
            state["crashed"] = True
            raise RuntimeError("simulated crash mid-publish")
        return orig(intent, stage, path)

    monkeypatch.setattr(ixs, "_roll_forward", partial)
    with pytest.raises(RuntimeError, match="mid-publish"):
        ixs.append_once(
            spark, name, fp, "d1", lambda: _drop_df(spark),
            bucket_col="k", n_buckets=4,
        )
    # replay completes the SAME commit: build must not run again
    assert ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    want = sorted([(i, "base") for i in range(20)] + [(i, "drop") for i in range(20, 30)])
    assert _served_rows(spark, name, fp) == want


def test_append_crash_before_marker_does_not_duplicate(spark, monkeypatch):
    """The exact window ADVICE r11 flagged: files fully published,
    marker not yet written. The replay must finish the commit (write
    the marker) WITHOUT appending the rows a second time."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "premarker")

    def die(marker, tag):
        raise RuntimeError("simulated crash before marker")

    monkeypatch.setattr(ixs, "_commit_marker", die)
    with pytest.raises(RuntimeError, match="before marker"):
        ixs.append_once(
            spark, name, fp, "d1", lambda: _drop_df(spark),
            bucket_col="k", n_buckets=4,
        )
    monkeypatch.undo()
    assert ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    ), "replay should report it completed the crashed commit"
    want = sorted([(i, "base") for i in range(20)] + [(i, "drop") for i in range(20, 30)])
    assert _served_rows(spark, name, fp) == want, (
        "pre-marker crash replay duplicated the drop"
    )
    assert not ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    assert _served_rows(spark, name, fp) == want


def test_noop_reentry_keeps_fresh_attachment_refreshes_stale(spark):
    """Optimization r14: ``append_once``'s marker no-op path must not
    throw away an attachment made AFTER the append committed (the
    serving rows re-enter the lifecycle every run, and the per-run
    refresh + re-listing was their measured floor) — but an attachment
    that PREDATES the marker (another process appended since) must
    still be refreshed, exactly as before."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "noopfresh")
    assert ixs.append_once(
        spark, name, fp, "d1", lambda: _drop_df(spark), bucket_col="k", n_buckets=4
    )
    want = sorted(
        [(i, "base") for i in range(20)] + [(i, "drop") for i in range(20, 30)]
    )

    # fresh attach (postdates the marker) -> the no-op must keep it
    ixs.clear_index_store_cache()
    df = ixs.get_or_build_index(
        spark, name, fp, lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    tbl = ixs._table_name(name, fp, "k", 4)
    memo = (id(spark), tbl)
    assert memo in ixs._ATTACHED
    assert not ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    assert ixs._ATTACHED.get(memo) is df, (
        "marker no-op dropped an attachment that already postdates the append"
    )
    assert sorted((r["k"], r["v"]) for r in df.collect()) == want

    # stale attach (marker mtime bumped PAST the attach time — the
    # cross-process-appended-since shape) -> the no-op must refresh
    marker = f"{ixs._STORE_DIR}/{tbl}.append_d1"
    future = ixs._ATTACHED_AT[memo] + 60.0
    os.utime(marker, (future, future))
    assert not ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    assert memo not in ixs._ATTACHED, (
        "marker no-op kept an attachment older than the append marker"
    )
    assert _served_rows(spark, name, fp) == want


def test_noop_reentry_refreshes_on_stamp_marker_tie(spark):
    """ADVICE r14 (low): a memo whose stamp exactly EQUALS the marker
    mtime (coarse-mtime filesystem / backward clock step / append
    landing in the attach's tick) cannot prove its listing saw the
    append — the no-op path must pay the refresh on ties."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "noopties")
    assert ixs.append_once(
        spark, name, fp, "d1", lambda: _drop_df(spark), bucket_col="k", n_buckets=4
    )
    ixs.clear_index_store_cache()
    ixs.get_or_build_index(
        spark, name, fp, lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    tbl = ixs._table_name(name, fp, "k", 4)
    memo = (id(spark), tbl)
    marker = f"{ixs._STORE_DIR}/{tbl}.append_d1"
    tie = ixs._ATTACHED_AT[memo]
    os.utime(marker, (tie, tie))
    assert not ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    assert memo not in ixs._ATTACHED, (
        "stamp == marker mtime must refresh (tie is not proof of freshness)"
    )


def test_attach_stamp_precedes_the_listing(spark):
    """ADVICE r14 (high): Spark's parquet listing is EAGER inside the
    attach, so the freshness stamp must be recorded BEFORE the attach
    starts — an append committing DURING the attach (marker mtime >=
    stamp) must leave the memo classified stale. Simulated by bumping
    the marker to a time strictly between attach start and attach end:
    under the old post-attach stamping the memo would look fresh and
    the pre-append listing would be served forever."""
    import time as _time

    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "noopstamp")
    assert ixs.append_once(
        spark, name, fp, "d1", lambda: _drop_df(spark), bucket_col="k", n_buckets=4
    )
    ixs.clear_index_store_cache()
    before = _time.time()
    ixs.get_or_build_index(
        spark, name, fp, lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    tbl = ixs._table_name(name, fp, "k", 4)
    memo = (id(spark), tbl)
    stamp = ixs._ATTACHED_AT[memo]
    assert before <= stamp <= _time.time()
    # an append that committed mid-attach: marker mtime just above the
    # stamp (the listing may or may not have seen its files — only a
    # refresh is safe)
    marker = f"{ixs._STORE_DIR}/{tbl}.append_d1"
    mid = stamp + 1e-4
    os.utime(marker, (mid, mid))
    assert not ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    assert memo not in ixs._ATTACHED, (
        "an append committing during the attach window must refresh"
    )


def test_ledger_precedes_marker_and_dedups_at_read(spark, tmp_path):
    """ADVICE r11 medium #2 end-to-end: kill the ingest between the
    totals-ledger write and the postings commit — the replay re-writes
    the ledger row (collapsed at read by src_tag) and the totals never
    undercount."""
    import uuid

    from mmw_geoprocessing_spark.sources import index_store as ixs
    from mmw_geoprocessing_spark.streaming import index_ingest as ii
    from pyspark.sql import functions as F

    fp = uuid.uuid4().hex[:10]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(8)], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(docs_dir)
    totals_dir = str(tmp_path / "totals")
    ixs.get_or_build_index(
        spark, "bm25_postings_stream_v2", fp,
        lambda: spark.createDataFrame([], ii._POSTINGS_SCHEMA), bucket_col="term",
    )
    batch = spark.read.parquet(docs_dir)

    real_append = ixs.append_once

    def die(*a, **kw):
        raise RuntimeError("simulated crash between ledger and marker")

    ii_ixs = __import__(
        "mmw_geoprocessing_spark.sources.index_store", fromlist=["append_once"]
    )
    try:
        ii_ixs.append_once = die
        with pytest.raises(RuntimeError, match="ledger and marker"):
            ii._ingest_batch(spark, fp, totals_dir, batch)
    finally:
        ii_ixs.append_once = real_append
    # crash window state: ledger row written, postings NOT committed
    raw = spark.read.parquet(totals_dir)
    assert raw.count() == 1
    # replay: ledger written again (duplicate), postings commit lands
    log: list[str] = []
    ii._ingest_batch(spark, fp, totals_dir, batch, appended_log=log)
    assert len(log) == 1
    raw = spark.read.parquet(totals_dir)
    assert raw.count() == 2, "replay should re-write the ledger row"
    deduped = raw.dropDuplicates(["src_tag"]).agg(
        F.sum("n_docs").alias("n"), F.sum("t_tokens").alias("t")
    ).collect()[0]
    assert deduped["n"] == 8 and deduped["t"] == 24
    # a third delivery is a full no-op on both sides
    ii._ingest_batch(spark, fp, totals_dir, batch, appended_log=log)
    assert len(log) == 1
    assert spark.read.parquet(totals_dir).count() == 2


# ---------------------------------------------------------------------------
# Compaction (r11 verdict #1): K append_once drops leave K extra files
# per touched bucket; compact_index rewrites the current generation to
# one file per bucket under the SAME bucket spec and swaps a .current
# pointer atomically. Results, bucket pruning, and exactly-once append
# markers must all survive the rewrite.
# ---------------------------------------------------------------------------


def test_compact_collapses_files_keeps_results_pruning_and_markers(spark, tables):
    import re

    from mmw_geoprocessing_spark.operators import search
    from mmw_geoprocessing_spark.sources import index_store as ixs
    from mmw_geoprocessing_spark.sources.tables import load_table

    key = lambda r: (r["query_id"], r["rank"])
    full = sorted(
        search.bm25_topk(spark, load_table(spark, SF_DIR, "documents")).collect(),
        key=key,
    )
    # build the appended state, then compact through the registry row
    search.bm25_index_append_topk(spark, SF_DIR).collect()
    fp = ixs.corpus_fingerprint(SF_DIR, "documents")
    tbl_dir = [
        d for d in glob.glob(f"{STORE}/sgi_bm25_postings_inc_*_b16")
        if fp in d and not d.endswith((".lock", ".current"))
    ]
    assert len(tbl_dir) == 1
    base = tbl_dir[0]
    before = len(ixs._data_files(ixs._resolve_location(base)))
    served = search.bm25_index_compact_topk(spark, SF_DIR)
    rows = sorted(served.collect(), key=key)
    stats_loc = ixs._resolve_location(base)
    after = len(ixs._data_files(stats_loc))
    if before > 16:
        assert stats_loc.endswith(".gen1") or ".gen" in stats_loc
        assert after <= 16 < before, (before, after)
    assert rows == full, "compaction changed the served ranking"
    # probes still bucket-prune over the compacted generation
    plan = served._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan[:1500]
    # exactly-once survives: the pre-compaction drop's marker still
    # no-ops a replay (build must not run)
    assert not ixs.append_once(
        spark, "bm25_postings_inc", fp, "drop1",
        lambda: (_ for _ in ()).throw(AssertionError("replay re-ran build")),
        bucket_col="term",
    )
    assert sorted(
        search.bm25_index_compact_topk(spark, SF_DIR).collect(), key=key
    ) == full


def test_compact_then_new_append_lands_in_new_generation(spark):
    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "compactgen")
    # three drops -> 1 base + up to 3 extra files per touched bucket
    for i, tag in enumerate(("d1", "d2", "d3")):
        lo = 20 + 10 * i
        drop = spark.createDataFrame(
            [(k, f"drop{tag}") for k in range(lo, lo + 10)], "k int, v string"
        )
        assert ixs.append_once(
            spark, name, fp, tag, lambda d=drop: d, bucket_col="k", n_buckets=4
        )
    tbl = ixs._table_name(name, fp, "k", 4)
    base = f"{STORE}/{tbl}"
    before = len(ixs._data_files(ixs._resolve_location(base)))
    stats = ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=4)
    assert stats["compacted"] and stats["files_after"] <= 4 < before
    want = sorted(
        [(i, "base") for i in range(20)]
        + [(k, f"drop{t}") for i, t in enumerate(("d1", "d2", "d3"))
           for k in range(20 + 10 * i, 30 + 10 * i)]
    )
    assert _served_rows(spark, name, fp) == want
    # a NEW drop appends into the new generation, exactly once
    d4 = spark.createDataFrame([(k, "dropd4") for k in range(50, 60)], "k int, v string")
    assert ixs.append_once(spark, name, fp, "d4", lambda: d4, bucket_col="k", n_buckets=4)
    assert not ixs.append_once(
        spark, name, fp, "d4", lambda: (_ for _ in ()).throw(AssertionError("dup")),
        bucket_col="k", n_buckets=4,
    )
    want += [(k, "dropd4") for k in range(50, 60)]
    assert _served_rows(spark, name, fp) == sorted(want)
    new_loc = ixs._resolve_location(base)
    assert ".gen" in new_loc
    assert len(ixs._data_files(new_loc)) <= 8  # 4 compacted + <=4 from d4
    # replayed pre-compaction tags still no-op
    for tag in ("d1", "d2", "d3"):
        assert not ixs.append_once(
            spark, name, fp, tag,
            lambda: (_ for _ in ()).throw(AssertionError("replay re-ran build")),
            bucket_col="k", n_buckets=4,
        )


def test_compact_repairs_crashed_append_before_rewriting(spark, monkeypatch):
    """A compaction that finds a crashed half-published append must
    finish THAT commit first (roll forward + marker), then fold it —
    otherwise the replay could not reconcile the journal against the
    rewritten file set."""
    import json as _json

    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "compactrepair")
    orig = ixs._roll_forward
    state = {"crashed": False}

    def partial(intent, stage, path):
        if not state["crashed"]:
            with open(intent) as f:
                files = _json.loads(f.read())
            assert len(files) > 1
            os.rename(os.path.join(stage, files[0]), os.path.join(path, files[0]))
            state["crashed"] = True
            raise RuntimeError("simulated crash mid-publish")
        return orig(intent, stage, path)

    monkeypatch.setattr(ixs, "_roll_forward", partial)
    with pytest.raises(RuntimeError, match="mid-publish"):
        ixs.append_once(
            spark, name, fp, "d1", lambda: _drop_df(spark),
            bucket_col="k", n_buckets=4,
        )
    monkeypatch.undo()
    stats = ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=4)
    assert stats["repaired_appends"] == 1
    want = sorted([(i, "base") for i in range(20)] + [(i, "drop") for i in range(20, 30)])
    assert _served_rows(spark, name, fp) == want
    # the repaired drop's marker exists: replay is a no-op
    assert not ixs.append_once(
        spark, name, fp, "d1",
        lambda: (_ for _ in ()).throw(AssertionError("replay re-ran build")),
        bucket_col="k", n_buckets=4,
    )
    assert _served_rows(spark, name, fp) == want


# ---------------------------------------------------------------------------
# Append lifecycle for the IVF and minhash indexes (r11 verdict #2):
# the same exactly-once drop-append discipline as bm25 postings, on the
# cell-PARTITIONED inverted file and the bkey/doc_id-BUCKETED band and
# array indexes. Serving must equal the full-corpus build (frozen
# quantizer / unchanged bucket specs), pruned plans must survive.
# ---------------------------------------------------------------------------


def test_ivf_append_is_exactly_once_and_matches_full(spark, tables):
    from mmw_geoprocessing_spark.operators import similarity as sim
    from mmw_geoprocessing_spark.sources.tables import load_table

    key = lambda r: (r["q_id"], r["rank"])
    full = sorted(
        sim.ann_ivf_topk(load_table(spark, SF_DIR, "embeddings")).collect(), key=key
    )
    inc = sim.ann_ivf_append_topk(spark, SF_DIR)
    rows1 = sorted(inc.collect(), key=key)
    rows2 = sorted(sim.ann_ivf_append_topk(spark, SF_DIR).collect(), key=key)
    assert rows1 == full, "base + appended drop must equal the full inverted file"
    assert rows1 == rows2, "replay duplicated the IVF drop"
    # probe still dynamic-partition-prunes across base + appended files
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan[:1500]
    # the drop landed under the cell=... directories with a commit marker
    idx_dirs = [
        d for d in glob.glob(f"{STORE}/sgi_ivf_lists_inc_*_pcell")
        if os.path.isdir(d)
    ]
    assert idx_dirs
    markers = glob.glob(f"{STORE}/sgi_ivf_lists_inc_*_pcell.append_drop1")
    assert markers
    # drop rows are physically inside partition directories
    assert any(
        fn.startswith("cell=") for d in idx_dirs for fn in os.listdir(d)
    )


def test_minhash_append_is_exactly_once_and_matches_probe(spark, tables):
    import re

    from mmw_geoprocessing_spark.operators import dedup
    from mmw_geoprocessing_spark.sources.tables import load_table

    key = lambda r: r["doc_id"]
    full = sorted(
        dedup.incremental_batch_dedup(
            load_table(spark, SF_DIR, "documents")
        ).collect(),
        key=key,
    )
    inc = dedup.incremental_batch_dedup_append(spark, SF_DIR)
    rows1 = sorted(inc.collect(), key=key)
    rows2 = sorted(
        dedup.incremental_batch_dedup_append(spark, SF_DIR).collect(), key=key
    )
    assert rows1 == full, "base + appended reference drop must equal the full probe"
    assert rows1 == rows2, "replay duplicated the reference drop"
    # one marker per index, both committed
    for name in ("lsh_ref_bands_inc", "lsh_ref_arrays_inc"):
        assert glob.glob(f"{STORE}/sgi_{name}_*.append_drop1"), name
    # the band-index probe is still a bucketed scan (bucket spec survived
    # the append): the combined table reports its bucket count
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Bucketed: true", plan) or "SelectedBucketsCount" in plan, (
        plan[:1500]
    )


def test_streamed_index_compacts_and_keeps_serving(spark, tables):
    """Lifecycle closure for the STREAMED index: after the availableNow
    drain has appended its per-file drops, compaction rewrites the
    accumulated fragments to one file per bucket and serving is
    unchanged; a post-compaction re-drain is still a no-op (the
    file-identity markers are generation-independent)."""
    from mmw_geoprocessing_spark.operators import search
    from mmw_geoprocessing_spark.sources import index_store as ixs
    from mmw_geoprocessing_spark.sources.tables import load_table
    from mmw_geoprocessing_spark.streaming import index_ingest as ii

    key = lambda r: (r["query_id"], r["rank"])
    full = sorted(
        search.bm25_topk(spark, load_table(spark, SF_DIR, "documents")).collect(),
        key=key,
    )
    assert sorted(ii.stream_index_serve(spark, SF_DIR).collect(), key=key) == full
    fp = ixs.corpus_fingerprint(SF_DIR, "documents")
    tbl = ixs._table_name("bm25_postings_stream_v2", fp, "term", 16)
    base = f"{STORE}/{tbl}"
    before = len(ixs._data_files(ixs._resolve_location(base)))
    stats = ixs.compact_index(
        spark, "bm25_postings_stream_v2", fp, bucket_col="term"
    )
    after = len(ixs._data_files(ixs._resolve_location(base)))
    assert after <= 16
    if before > 16:
        assert stats["compacted"] and after < before
    # serving from the compacted generation is identical, and the
    # drain (including its marker checks) remains a no-op
    log: list[str] = []
    ii.stream_index_ingest(spark, SF_DIR, appended_log=log)
    assert log == [], f"post-compaction drain re-appended: {log}"
    assert sorted(ii.stream_index_serve(spark, SF_DIR).collect(), key=key) == full


def test_partitioned_index_compacts_per_cell(spark):
    """The IVF-layout twin of bucketed compaction: K drops leave K+1
    files per cell directory; compact_index rewrites to ONE file per
    cell under a new generation, results and new appends survive."""
    import uuid

    from mmw_geoprocessing_spark.sources import index_store as ixs

    name = "crashsim_partcompact"
    fp = uuid.uuid4().hex[:10]
    mk = lambda lo, hi, v: spark.createDataFrame(
        [(i, v, i % 3) for i in range(lo, hi)], "k int, v string, cell int"
    )
    ixs.get_or_build_index(
        spark, name, fp, lambda: mk(0, 20, "base"), partition_col="cell"
    )
    for i, tag in enumerate(("d1", "d2", "d3")):
        lo = 20 + 10 * i
        drop = mk(lo, lo + 10, f"drop{tag}")
        assert ixs.append_once(
            spark, name, fp, tag, lambda d=drop: d, partition_col="cell"
        )
    tbl = ixs._table_name(name, fp, None, 16, "cell")
    base = f"{STORE}/{tbl}"
    loc0 = ixs._resolve_location(base)
    before = len(ixs._data_files(loc0))
    assert before > 3, "expected multiple files per cell before compaction"
    stats = ixs.compact_index(spark, name, fp, partition_col="cell")
    loc1 = ixs._resolve_location(base)
    assert stats["compacted"] and ".gen" in loc1
    # exactly one file per cell directory
    for d in os.listdir(loc1):
        if d.startswith("cell="):
            files = ixs._data_files(os.path.join(loc1, d))
            assert len(files) == 1, (d, files)
    ixs.clear_index_store_cache()
    served = ixs.get_or_build_index(
        spark, name, fp,
        lambda: (_ for _ in ()).throw(AssertionError("rebuild after compact")),
        partition_col="cell",
    )
    want = sorted(
        [(i, "base", i % 3) for i in range(20)]
        + [(k, f"drop{t}", k % 3) for i, t in enumerate(("d1", "d2", "d3"))
           for k in range(20 + 10 * i, 30 + 10 * i)]
    )
    assert sorted((r["k"], r["v"], r["cell"]) for r in served.collect()) == want
    # replayed pre-compaction tags no-op; a new drop appends to the new
    # generation exactly once
    for tag in ("d1", "d2", "d3"):
        assert not ixs.append_once(
            spark, name, fp, tag,
            lambda: (_ for _ in ()).throw(AssertionError("replay re-ran build")),
            partition_col="cell",
        )
    d4 = mk(50, 60, "dropd4")
    assert ixs.append_once(spark, name, fp, "d4", lambda: d4, partition_col="cell")
    want += [(k, "dropd4", k % 3) for k in range(50, 60)]
    ixs.clear_index_store_cache()
    served = ixs.get_or_build_index(
        spark, name, fp,
        lambda: (_ for _ in ()).throw(AssertionError("rebuild after append")),
        partition_col="cell",
    )
    assert sorted((r["k"], r["v"], r["cell"]) for r in served.collect()) == sorted(want)


_APPEND_PROC = r"""
import json, sys
sys.path.insert(0, %r)
from mmw_geoprocessing_spark.session import get_spark
from mmw_geoprocessing_spark.sources import index_store as ixs
name, fp, tag, lo = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark(app_name="appender_" + tag, master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
drop = spark.createDataFrame(
    [(i, "drop_" + tag) for i in range(lo, lo + 10)], "k int, v string"
)
did = ixs.append_once(spark, name, fp, tag, lambda: drop, bucket_col="k", n_buckets=4)
print("DID:" + json.dumps(did))
spark.stop()
"""


@pytest.mark.slow
def test_concurrent_append_processes_are_exactly_once(spark):
    """Two PROCESSES race the same append tag while a third lands a
    different tag: the flock + marker commit must admit the same-tag
    drop exactly once (one True, one False) and the other tag
    independently — final contents are base + each drop exactly once.
    This is the claim the in-process crash tests cannot make: the lock
    and markers coordinate writers that share nothing but the
    filesystem."""
    name, fp = _mini_index(spark, "concproc")

    def launch(tag, lo):
        return subprocess.Popen(
            [sys.executable, "-c", _APPEND_PROC % REPO_ROOT, name, fp, tag, str(lo)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
    procs = [launch("dA", 20), launch("dA", 20), launch("dB", 30)]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-2000:]
        line = [ln for ln in out.splitlines() if ln.startswith("DID:")]
        assert line, out[-1000:]
        outs.append(json.loads(line[0][len("DID:"):]))
    assert sorted(outs[:2]) == [False, True], (
        f"same-tag race must admit exactly one append, got {outs[:2]}"
    )
    assert outs[2] is True
    want = sorted(
        [(i, "base") for i in range(20)]
        + [(i, "drop_dA") for i in range(20, 30)]
        + [(i, "drop_dB") for i in range(30, 40)]
    )
    assert _served_rows(spark, name, fp) == want


def test_compaction_retention_and_explicit_vacuum(spark):
    """Compaction retains the immediately-previous generation (readers
    in other processes attached before the pointer swap finish their
    scans); generations older than that are removed; vacuum_index is
    the explicit no-readers-remain cleanup that drops everything but
    the current generation."""
    import glob as _glob

    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "retention")
    tbl = ixs._table_name(name, fp, "k", 4)
    base = f"{STORE}/{tbl}"
    d1 = spark.createDataFrame([(i, "d1") for i in range(20, 30)], "k int, v string")
    assert ixs.append_once(spark, name, fp, "d1", lambda: d1, bucket_col="k", n_buckets=4)
    assert ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=4)["compacted"]
    # generation 0 (the previous generation) keeps its files
    assert ixs._data_files(base), "retention must keep the previous generation"
    gen1 = ixs._resolve_location(base)
    assert gen1.endswith(".gen1")
    d2 = spark.createDataFrame([(i, "d2") for i in range(30, 40)], "k int, v string")
    assert ixs.append_once(spark, name, fp, "d2", lambda: d2, bucket_col="k", n_buckets=4)
    assert ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=4)["compacted"]
    # now gen1 is the previous (kept), gen0 is past retention (cleared)
    assert ixs._resolve_location(base).endswith(".gen2")
    assert ixs._data_files(base) == [], "gen0 is past the retention horizon"
    assert os.path.isdir(gen1) and ixs._data_files(gen1)
    # explicit vacuum drops everything but the current generation
    removed = ixs.vacuum_index(spark, name, fp, bucket_col="k", n_buckets=4)
    assert removed >= 1
    assert [d for d in _glob.glob(base + ".gen*") if d != ixs._resolve_location(base)] == []
    want = sorted(
        [(i, "base") for i in range(20)]
        + [(i, "d1") for i in range(20, 30)]
        + [(i, "d2") for i in range(30, 40)]
    )
    assert _served_rows(spark, name, fp) == want


def test_marker_exists_paths_sweep_leaked_stage_dirs(spark):
    """r12 ADVICE: a writer crashing between os.remove(intent) and the
    stage rmtree leaked the stage dir forever — every later call
    fast-pathed out on the marker without cleanup. Both marker-exists
    paths and the repair sweep must now remove committed tags' stale
    stage dirs."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    name, fp = _mini_index(spark, "stageleak")
    assert ixs.append_once(
        spark, name, fp, "d1", lambda: _drop_df(spark), bucket_col="k", n_buckets=4
    )
    base = f"{ixs._STORE_DIR}/{ixs._table_name(name, fp, 'k', 4, None, 'v1')}"
    stage = base + ".stage_d1"
    # simulate the leak: marker committed, intent removed, stage left
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "leftover.parquet"), "w") as f:
        f.write("garbage")
    assert not ixs.append_once(
        spark, name, fp, "d1", lambda: _no_rebuild(), bucket_col="k", n_buckets=4
    )
    assert not os.path.isdir(stage), "marker fast-path must sweep the leaked stage"
    # the repair sweep (compaction's step 1) also clears leaked stages
    os.makedirs(stage, exist_ok=True)
    ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=4)
    assert not os.path.isdir(stage), "repair must sweep committed tags' stages"
    # an UNcommitted tag's stage (no marker) must survive the sweep —
    # that is a pre-journal partial the next append_once handles itself
    pend = base + ".stage_never_committed"
    os.makedirs(pend, exist_ok=True)
    ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=4)
    assert os.path.isdir(pend), "sweep must not touch uncommitted stages"
    shutil.rmtree(pend, ignore_errors=True)
    want = sorted(
        [(i, "base") for i in range(20)] + [(i, "drop") for i in range(20, 30)]
    )
    assert _served_rows(spark, name, fp) == want


def test_compact_detects_per_bucket_fragmentation_under_total_cap(spark):
    """r12 ADVICE: the old 'already compact' heuristic compared TOTAL
    file count to n_buckets, so a base that hit few buckets plus
    appends under the cap left multi-fragment buckets uncompacted.
    Fragmentation is now detected per bucket id."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    # keys 0/1 only -> the base write fills at most 2 of 16 buckets
    name, fp = "fragsim", __import__("uuid").uuid4().hex[:10]
    base = spark.createDataFrame(
        [(i % 2, f"base{i}") for i in range(8)], "k int, v string"
    )
    ixs.get_or_build_index(spark, name, fp, lambda: base, bucket_col="k", n_buckets=16)
    drop = spark.createDataFrame(
        [(i % 2, f"drop{i}") for i in range(8)], "k int, v string"
    )
    assert ixs.append_once(
        spark, name, fp, "d1", lambda: drop, bucket_col="k", n_buckets=16
    )
    loc = ixs._resolve_location(
        f"{ixs._STORE_DIR}/{ixs._table_name(name, fp, 'k', 16, None, 'v1')}"
    )
    files = ixs._data_files(loc)
    assert len(files) <= 16, "precondition: total stays under the bucket cap"
    assert ixs._bucket_fragmented(files), "two files share a bucket id here"
    stats = ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=16)
    assert stats["compacted"], "per-bucket detection must trigger compaction"
    after = ixs._data_files(stats["location"])
    assert not ixs._bucket_fragmented(after)
    assert stats["files_after"] < stats["files_before"]
    # a second call is now a no-op
    assert not ixs.compact_index(spark, name, fp, bucket_col="k", n_buckets=16)[
        "compacted"
    ]
    want = sorted(
        [(i % 2, f"base{i}") for i in range(8)]
        + [(i % 2, f"drop{i}") for i in range(8)]
    )
    got = sorted(
        (r["k"], r["v"])
        for r in ixs.get_or_build_index(
            spark, name, fp, lambda: _no_rebuild(), bucket_col="k", n_buckets=16
        ).collect()
    )
    assert got == want


def test_stream_ivf_ingest_exactly_once_under_checkpoint_loss(spark, tables):
    """r12 verdict #2: the IVF streaming face. Drain the embedding
    drops into the cell-partitioned inverted file, DESTROY the
    checkpoint, re-drain — zero appends may happen — and the served
    top-k must equal the session ann_ivf plan throughout (the streamed
    index holds exactly the full corpus under the frozen quantizer)."""
    import tempfile

    from mmw_geoprocessing_spark.operators import similarity as sim
    from mmw_geoprocessing_spark.streaming import index_ingest as ii

    key = lambda r: (r["q_id"], r["rank"])
    from mmw_geoprocessing_spark.sources.tables import load_table as _lt

    full = sorted(
        sim.ann_ivf_topk(_lt(spark, SF_DIR, "embeddings")).collect(), key=key
    )
    rows = sorted(ii.stream_ivf_serve(spark, SF_DIR).collect(), key=key)
    assert rows == full
    from mmw_geoprocessing_spark.sources.index_store import corpus_fingerprint
    from mmw_geoprocessing_spark.sources.tables import load_table

    replay = ii._chunked_replay_dir(
        spark, SF_DIR, "embeddings_ivf",
        load_table(spark, SF_DIR, "embeddings"),
        "vec_id", spec=ii._IVF_STREAM_SPEC,
    )
    ckpt = ii._face_ckpt(
        os.path.basename(replay), "ivf_lists_stream", ii._IVF_STREAM_SPEC,
        corpus_fingerprint(SF_DIR, "embeddings"),
    )
    shutil.rmtree(ckpt)
    log: list[str] = []
    ii.stream_ivf_ingest(spark, SF_DIR, appended_log=log)
    assert log == [], f"checkpoint-loss replay re-appended drops: {log}"
    assert sorted(ii.stream_ivf_serve(spark, SF_DIR).collect(), key=key) == full


def test_stream_ivf_spec_bump_forces_fresh_drain(spark, tables, monkeypatch):
    """r14 regression: an index-identity change (spec bump) must NOT
    reuse the old checkpoint — a caught-up checkpoint over a fresh
    index drains nothing and serves an EMPTY index. With the
    checkpoint keyed by the index identity (_face_ckpt), the bumped
    face re-drains from scratch and serves the full corpus."""
    from mmw_geoprocessing_spark.operators import similarity as sim
    from mmw_geoprocessing_spark.sources.tables import load_table as _lt
    from mmw_geoprocessing_spark.streaming import index_ingest as ii

    key = lambda r: (r["q_id"], r["rank"])
    full = sorted(
        sim.ann_ivf_topk(_lt(spark, SF_DIR, "embeddings")).collect(), key=key
    )
    monkeypatch.setattr(ii, "_IVF_STREAM_SPEC", "specbumptest")
    rows = sorted(ii.stream_ivf_serve(spark, SF_DIR).collect(), key=key)
    assert rows == full, "spec bump must re-drain, not serve empty"


def test_stream_minhash_ingest_exactly_once_and_crash_window(spark, tables, monkeypatch):
    """r12 verdict #2: the minhash streaming face makes TWO journaled
    commits per drop (band index + array index). Checkpoint loss must
    re-append nothing; a crash BETWEEN the two commits must converge on
    replay (bands no-op on their marker, arrays finish) with the served
    probe equal to the session plan throughout."""
    import tempfile

    from mmw_geoprocessing_spark.operators import dedup as dd
    from mmw_geoprocessing_spark.sources import index_store as ixs
    from mmw_geoprocessing_spark.streaming import index_ingest as ii

    key = lambda r: r["doc_id"]
    from mmw_geoprocessing_spark.sources.tables import load_table as _lt

    full = sorted(
        dd.incremental_batch_dedup(_lt(spark, SF_DIR, "documents")).collect(),
        key=key,
    )
    rows = sorted(ii.stream_minhash_serve(spark, SF_DIR).collect(), key=key)
    assert rows == full
    # checkpoint loss: every drop re-delivered, all discarded by markers
    from mmw_geoprocessing_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ref = load_table(spark, SF_DIR, "documents").filter(
        (F.col("doc_id") % dd.INCREMENTAL_BATCH_MOD) != dd.INCREMENTAL_BATCH_REM
    )
    spec = ii._lsh_stream_spec()
    replay = ii._chunked_replay_dir(
        spark, SF_DIR, "documents_lsh", ref, "doc_id", spec=spec
    )
    ckpt = ii._face_ckpt(
        os.path.basename(replay), "lsh_ref_stream", spec,
        ixs.corpus_fingerprint(SF_DIR, "documents"),
    )
    shutil.rmtree(ckpt)
    log: list[str] = []
    ii.stream_minhash_ingest(spark, SF_DIR, appended_log=log)
    assert log == [], f"checkpoint-loss replay re-appended drops: {log}"
    assert sorted(ii.stream_minhash_serve(spark, SF_DIR).collect(), key=key) == full
    # crash window BETWEEN the two commits of one drop: rebuild from
    # scratch with an append_once that dies after the bands commit
    fp = ixs.corpus_fingerprint(SF_DIR, "documents")
    import glob as _g

    for nm in ("lsh_ref_bands_stream", "lsh_ref_arrays_stream"):
        for p in _g.glob(f"{ixs._STORE_DIR}/sgi_{nm}_{spec}_{fp}*"):
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    ixs.clear_index_store_cache()
    shutil.rmtree(ckpt, ignore_errors=True)
    orig = ixs.append_once
    state = {"n": 0}

    def crash_after_bands(spark_, name, fp_, tag, build, **kw):
        did = orig(spark_, name, fp_, tag, build, **kw)
        if name == "lsh_ref_bands_stream" and state["n"] == 0 and did:
            state["n"] = 1
            raise RuntimeError("simulated crash between the two commits")
        return did

    monkeypatch.setattr(ixs, "append_once", crash_after_bands)
    with pytest.raises(Exception, match="simulated crash|StreamingQueryException"):
        ii.stream_minhash_ingest(spark, SF_DIR)
    monkeypatch.undo()
    ixs.clear_index_store_cache()
    # the replay finishes the half-committed drop and drains the rest
    ii.stream_minhash_ingest(spark, SF_DIR)
    assert sorted(ii.stream_minhash_serve(spark, SF_DIR).collect(), key=key) == full


def test_auto_compaction_bounds_fragments_across_many_appends(spark, monkeypatch):
    """r12 verdict #4: a year of daily drops must not need a manual
    compact_index call. With the threshold pinned low, a run of appends
    keeps the worst bucket's fragment count bounded (auto-compaction
    fires inside append_once), serving stays green after EVERY drop,
    and replayed drops still no-op against compacted generations."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    monkeypatch.setattr(ixs, "AUTO_COMPACT_MAX_FRAGMENTS", 3)
    name, fp = _mini_index(spark, "autocompact")
    base = f"{ixs._STORE_DIR}/{ixs._table_name(name, fp, 'k', 4, None, 'v1')}"
    want = [(i, "base") for i in range(20)]
    for n in range(8):
        lo = 100 + 10 * n
        drop = spark.createDataFrame(
            [(i % 4, f"d{n}_{i}") for i in range(lo, lo + 10)], "k int, v string"
        )
        rows = [(i % 4, f"d{n}_{i}") for i in range(lo, lo + 10)]
        assert ixs.append_once(
            spark, name, fp, f"tag{n}", lambda d=drop: d, bucket_col="k", n_buckets=4
        )
        want += rows
        frag = ixs._max_fragments(base, None)
        assert frag <= 3 + 1, f"drop {n}: worst bucket holds {frag} fragments"
        assert _served_rows(spark, name, fp) == sorted(want), f"drop {n} serving"
    # at least one auto-compaction must have fired (8 drops, threshold 3)
    assert ".gen" in ixs._resolve_location(base)
    # exactly-once survives the auto-compactions: every tag no-ops
    for n in range(8):
        assert not ixs.append_once(
            spark, name, fp, f"tag{n}", lambda: _no_rebuild(),
            bucket_col="k", n_buckets=4,
        )
    assert _served_rows(spark, name, fp) == sorted(want)


def test_unparseable_file_names_trigger_auto_compaction(tmp_path):
    """r13 ADVICE: _max_fragments used to count a file whose name does
    not match _BUCKET_ID_RE as its own singleton bucket — so a layout
    with non-standard names could fragment unboundedly without ever
    auto-compacting, while _bucket_fragmented treated the SAME names as
    fragmented. The two heuristics must agree: unparseable ⇒ compact."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    d = tmp_path / "idx"
    d.mkdir()
    (d / "part-00000-abc_00001.c000.snappy.parquet").write_bytes(b"x")
    (d / "weird-name.parquet").write_bytes(b"x")
    files = ixs._data_files(str(d))
    assert ixs._bucket_fragmented(files)
    assert ixs._max_fragments(str(d), None) > ixs.AUTO_COMPACT_MAX_FRAGMENTS
    # standard names alone: both heuristics stay calm
    (d / "weird-name.parquet").unlink()
    files = ixs._data_files(str(d))
    assert not ixs._bucket_fragmented(files)
    assert ixs._max_fragments(str(d), None) == 1


def test_auto_compaction_partitioned_layout(spark, monkeypatch):
    """The partitioned (IVF cell) layout auto-compacts per directory."""
    from mmw_geoprocessing_spark.sources import index_store as ixs

    monkeypatch.setattr(ixs, "AUTO_COMPACT_MAX_FRAGMENTS", 2)
    import uuid

    name, fp = "autocompact_part", uuid.uuid4().hex[:10]
    base_df = spark.createDataFrame(
        [(i, i % 3, "base") for i in range(12)], "vid int, cell int, v string"
    )
    ixs.get_or_build_index(
        spark, name, fp, lambda: base_df, partition_col="cell"
    )
    base = f"{ixs._STORE_DIR}/{ixs._table_name(name, fp, None, 16, 'cell', 'v1')}"
    want = [(i, i % 3, "base") for i in range(12)]
    for n in range(5):
        lo = 100 + 10 * n
        rows = [(i, i % 3, f"d{n}") for i in range(lo, lo + 6)]
        drop = spark.createDataFrame(rows, "vid int, cell int, v string")
        assert ixs.append_once(
            spark, name, fp, f"tag{n}", lambda d=drop: d, partition_col="cell"
        )
        want += rows
        assert ixs._max_fragments(base, "cell") <= 3
        ixs.clear_index_store_cache()
        got = sorted(
            (r["vid"], r["cell"], r["v"])
            for r in ixs.get_or_build_index(
                spark, name, fp, lambda: _no_rebuild(), partition_col="cell"
            ).collect()
        )
        assert got == sorted(want), f"drop {n} serving"


def test_stream_phash_ingest_exactly_once_under_checkpoint_loss(spark, tables):
    """Round-13 late: the image band index's streaming face. Drain the
    image drops, DESTROY the checkpoint, re-drain — zero appends — and
    the served near-dup must equal the session dedup_image_phash plan
    throughout (the streamed index holds the full corpus)."""
    import tempfile

    from mmw_geoprocessing_spark.operators import image_dedup as imd
    from mmw_geoprocessing_spark.sources.tables import load_table
    from mmw_geoprocessing_spark.streaming import index_ingest as ii

    key = lambda r: (r["a_id"], r["b_id"])
    docs = load_table(spark, SF_DIR, "documents")
    full = sorted(imd.dedup_image_phash(docs).collect(), key=key)
    rows = sorted(ii.stream_phash_serve(spark, SF_DIR).collect(), key=key)
    assert rows == full
    from mmw_geoprocessing_spark.sources.index_store import corpus_fingerprint

    replay = ii._chunked_replay_dir(
        spark, SF_DIR, "documents_phash", docs.select("doc_id"), "doc_id",
        spec="tex4s",
    )
    ckpt = ii._face_ckpt(
        os.path.basename(replay), "img_phash_bands_stream", "tex4s",
        corpus_fingerprint(SF_DIR, "documents"),
    )
    shutil.rmtree(ckpt)
    log: list[str] = []
    ii.stream_phash_ingest(spark, SF_DIR, appended_log=log)
    assert log == [], f"checkpoint-loss replay re-appended drops: {log}"
    assert sorted(ii.stream_phash_serve(spark, SF_DIR).collect(), key=key) == full
