"""Durable, restart-surviving index store (r10 verdict #2).

The retrieval/dedup families build their ingest-time indexes (BM25
postings / document frequencies / corpus totals, IVF cell assignments
/ centroids, minhash band signatures) through the session-memory
PlanCache — correct and amortized within one service lifetime, but a
restarted service rebuilds everything (the sf1~ ngram index alone is
~220 s). The reference's analogue is durable (its layer catalog lives
in S3, ``Utils.scala:22-23``); the zone-map family
(``sources/zonemap.py``) already demonstrates the right pattern in
this repo: the index is WRITTEN at ingest and SERVED from parquet.

This module generalizes that pattern: an index table is written once
per (corpus identity, index spec) as parquet — optionally BUCKETED on
its probe key — under a deterministic keyed directory, then every
session (including a fresh process) re-attaches it instead of
rebuilding. Bucketed indexes re-attach via CLUSTERED BY DDL so probes
prune to the query keys' buckets: ``filter(term IN (...))`` over a
term-bucketed postings table plans with
``SelectedBucketsCount: m out of n`` — the scan reads only the
probed buckets' files, which at 100 TB is the difference between a
query-sized read and a corpus-sized one.

Concurrency/atomicity discipline shared with sources/maintenance.py:
builds run under a per-key flock (lock dies with the holder), and a
directory counts as built only once Spark's _SUCCESS marker lands.

Round 12 made the store a full index LIFECYCLE:

- ``append_once`` — exactly-once per drop tag, CRASH-SAFE via a
  staged-files → intent-journal → publish → marker commit (replays
  roll forward, never re-run the build after the journal); works for
  bucketed AND partition-directory layouts.
- ``compact_index`` — rewrites accumulated drop fragments back to one
  file per bucket / per partition directory into a NEW generation,
  swapped in by an atomic ``.current`` pointer; markers are
  generation-independent so exactly-once survives; the previous
  generation is retained for in-flight readers.
- ``vacuum_index`` — the explicit retention decision: drop every
  non-current generation once no reader can still hold its listing.

Cross-process coordination is filesystem-only (flock + atomic rename)
and is exercised by subprocess tests: concurrent same-tag appenders,
fresh-process serving, and crash injection at every commit window.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_STORE_DIR = "/tmp/spark_graft_index_store"

# (session id, table name) -> attached DataFrame (skip catalog chatter)
_ATTACHED: dict[tuple[int, str], DataFrame] = {}

# (session id, table name) -> wall-clock stamped at the START of the
# memo fill, BEFORE any attach/refresh/read work. Spark's parquet file
# listing is EAGER (InMemoryFileIndex during resolveRelation / table
# analysis), so only a stamp that provably PRECEDES the listing makes
# ``attach time > append-marker mtime`` prove the listing already
# includes that append's files (markers commit strictly AFTER the
# files are renamed in; an append landing DURING the listing has
# marker mtime >= stamp and therefore triggers a refresh — ADVICE
# r14's concurrent-appender race).
_ATTACHED_AT: dict[tuple[int, str], float] = {}


def clear_index_store_cache() -> None:
    """Forget session-level attachments (NOT the on-disk indexes —
    those are the point). Tests use this to simulate a fresh session."""
    _ATTACHED.clear()
    _ATTACHED_AT.clear()


def _resolve_location(path: str) -> str:
    """The directory currently serving the index. Compaction rewrites
    into a NEW generation directory and atomically swaps the
    ``.current`` pointer (os.replace), so readers see either the old
    file set or the new one — never a mix. No pointer = generation 0 =
    the base path itself."""
    ptr = path + ".current"
    if os.path.isfile(ptr):
        with open(ptr) as f:
            return f.read().strip()
    return path


def _complete(d: str) -> bool:
    loc = _resolve_location(d)
    return os.path.isdir(loc) and os.path.isfile(os.path.join(loc, "_SUCCESS"))


def _data_files(loc: str) -> list[str]:
    """Data files under ``loc``, as paths relative to it — flat for
    bucketed layouts, recursive (``cell=…/part-…``) for partitioned."""
    out: list[str] = []
    for root, _dirs, files in os.walk(loc):
        rel = os.path.relpath(root, loc)
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                out.append(fn if rel == "." else os.path.join(rel, fn))
    return sorted(out)


@contextmanager
def _build_lock(path: str):
    import fcntl

    os.makedirs(_STORE_DIR, exist_ok=True)
    fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def corpus_fingerprint(sf_dir: str, *tables: str) -> str:
    """Identity of the corpus an index was built from: source parquet
    size+mtime per table. Regenerated testdata therefore invalidates
    stale indexes instead of silently serving them (the
    fixtures/tpch_layout rule)."""
    parts = [sf_dir]
    for t in tables:
        try:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{t}:nostat")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def _table_name(
    name: str,
    fingerprint: str,
    bucket_col: str | None = None,
    n_buckets: int = 16,
    partition_col: str | None = None,
    spec_version: str = "v1",
) -> str:
    tag = f"{name}_{spec_version}_{fingerprint}"
    if bucket_col:
        tag += f"_b{n_buckets}"
    if partition_col:
        tag += f"_p{partition_col}"
    return f"sgi_{tag}"


def append_applied(
    name: str,
    fingerprint: str,
    append_tag: str,
    bucket_col: str | None = None,
    n_buckets: int = 16,
    partition_col: str | None = None,
    spec_version: str = "v1",
) -> bool:
    """True iff ``append_tag`` has already been committed into the
    index (its marker exists). Lets sidecar writes (e.g. the streaming
    ingest's totals ledger) sequence themselves BEFORE the marker
    commit without re-staging the append."""
    tbl = _table_name(
        name, fingerprint, bucket_col, n_buckets, partition_col, spec_version
    )
    return os.path.isfile(f"{_STORE_DIR}/{tbl}.append_{append_tag}")


def _refresh_attached(spark: SparkSession, tbl: str) -> None:
    """Another process may have appended since this session attached
    ``tbl``; drop the session memo and the cached file listing so the
    next probe re-lists (ADVICE r11: the marker-exists path must not
    keep serving the stale pre-append listing)."""
    _ATTACHED.pop((id(spark), tbl), None)
    _ATTACHED_AT.pop((id(spark), tbl), None)
    try:
        if spark.catalog.tableExists(tbl):
            spark.catalog.refreshTable(tbl)
    except Exception:
        pass  # not attached in this session: nothing stale to drop


def _refresh_attached_if_stale(spark: SparkSession, tbl: str, marker: str) -> None:
    """``append_once``'s idempotent no-op path (marker already present)
    only needs to drop this session's attachment when the attachment
    could PREDATE the append — i.e. when the memo's stamp does not
    strictly postdate the marker. The stamp is recorded BEFORE the
    attach's eager file listing and the commit renames files in BEFORE
    writing the marker, so ``stamp > marker mtime`` proves the listing
    already includes the appended files; refreshing such memos anyway
    made every
    re-entrant serving run pay catalog re-resolution + a fresh file
    listing per probe (optimization r14: measured 11-23 ms per no-op
    per index at sf0.1's 17-file layout, interleaved A/B; at a
    production index's file count the
    re-list is the driver-side listing cost guide §6 warns about,
    paid per serving request). A missing memo
    needs no refresh either: the next ``get_or_build_index`` attach
    refreshes the catalog entry unconditionally before re-listing."""
    memo = (id(spark), tbl)
    at = _ATTACHED_AT.get(memo)
    if at is None and memo in _ATTACHED:
        # pre-timestamp memo (defensive): age unknown -> refresh
        _refresh_attached(spark, tbl)
        return
    if at is not None:
        try:
            # <=, not <: ties refresh (ADVICE r14). The stamp precedes
            # the attach's eager file listing and marker commits follow
            # the file renames, so only ``marker mtime strictly before
            # the stamp`` proves the listing saw the append; a tie (a
            # backward clock step, coarse-mtime filesystem, or an
            # append landing in the same tick as the attach) must pay
            # the refresh — the no-op path is only an optimization.
            # Same-filesystem/same-host clocks assumed (both sides are
            # this host's wall clock).
            if at <= os.path.getmtime(marker):
                _refresh_attached(spark, tbl)
        except OSError:
            _refresh_attached(spark, tbl)


def _stage_dir_write(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    tbl: str,
    append_tag: str,
    bucket_col: str | None,
    n_buckets: int,
    partition_col: str | None = None,
) -> list[str]:
    """Write ``df`` into the STAGING dir (not the table location) in
    the index's own layout and return the data files' RELATIVE paths.

    - bucketed: Spark encodes a file's bucket id in its name
      (``part-NNNNN-<uuid>_<bucket>.…``), so the staged files keep
      their bucket mapping when later renamed into the table directory
      — the same reason a plain ``mode(append)`` write preserves the
      spec.
    - partitioned: files land under ``<col>=<value>/`` subdirectories;
      renaming them in preserves partition discovery, and a drop whose
      values include UNSEEN partitions simply creates new directories
      (new cells = new IVF lists)."""
    if bucket_col:
        stage_tbl = re.sub(r"\W", "_", f"{tbl}_stage_{append_tag}")
        (
            df.repartition(n_buckets, bucket_col)
            .write.bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", stage)
            .mode("overwrite")
            .saveAsTable(stage_tbl)
        )
        spark.sql(f"DROP TABLE IF EXISTS {stage_tbl}")
    else:
        df.write.partitionBy(partition_col).mode("overwrite").parquet(stage)
    out: list[str] = []
    for root, _dirs, files in os.walk(stage):
        rel_root = os.path.relpath(root, stage)
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                out.append(fn if rel_root == "." else os.path.join(rel_root, fn))
    return sorted(out)


def _write_intent(intent: str, files: list[str]) -> None:
    tmp = intent + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(files))
    os.replace(tmp, intent)


def _roll_forward(intent: str, stage: str, path: str) -> None:
    """Complete a journaled commit: move every intent-listed file from
    the stage dir into the table dir. Idempotent — a file already moved
    (dest exists, source gone) is skipped, so a crashed half-commit
    finishes cleanly on replay instead of duplicating."""
    with open(intent) as f:
        files = json.loads(f.read())
    for fn in files:
        src, dst = os.path.join(stage, fn), os.path.join(path, fn)
        if os.path.isfile(dst):
            continue
        if not os.path.isfile(src):
            raise RuntimeError(
                f"append commit journal lists {fn} but it is in neither "
                f"the stage dir nor the table dir — store corrupted"
            )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


def _commit_marker(marker: str, append_tag: str) -> None:
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(append_tag)
    os.replace(tmp, marker)


def append_once(
    spark: SparkSession,
    name: str,
    fingerprint: str,
    append_tag: str,
    build: "callable[[], DataFrame]",
    bucket_col: str | None = None,
    n_buckets: int = 16,
    partition_col: str | None = None,
    spec_version: str = "v1",
) -> bool:
    """Append ``build()``'s rows into the existing index — EXACTLY
    ONCE per ``append_tag`` (a crawl-drop / ingest-epoch id),
    crash-safe at every step. For a BUCKETED index the appended rows
    land as one extra file per touched bucket with the same bucket
    spec, so probes keep bucket-pruning across base + appended files;
    for a PARTITIONED index they land as extra files under the touched
    partitions' directories (creating directories for unseen values —
    new IVF cells become new lists), so partition pruning / DPP keeps
    skipping unprobed directories. Returns True if this call
    physically made the drop's rows visible (including finishing
    another call's crashed commit), False if the tag had already been
    fully applied.

    Commit protocol (ADVICE r11: the v1 scheme made appended files
    visible BEFORE the marker, so a crash between the two duplicated
    the drop on replay). All under the per-index flock:

    1. re-check the marker — present ⇒ no-op (refresh stale listings).
    2. stage: write the drop as bucketed parquet into a SIDE directory
       (invisible to the table).
    3. journal: atomically write an intent file listing the staged
       data files.
    4. publish: rename each staged file into the table directory.
    5. commit: atomically write the marker; clean up intent + stage.

    Crash before 3 ⇒ replay discards the partial stage and rebuilds
    (nothing was visible). Crash after 3 ⇒ replay ROLLS FORWARD from
    the journal (never re-runs ``build``), so the drop lands exactly
    once no matter where the writer died. Readers racing a commit can
    observe a prefix of the drop's files for the duration of step 4 —
    per-drop atomic visibility would need a manifest-gated read path
    (sources/maintenance.py has one); the exactly-once guarantee this
    store makes is about COMMITTED state, and every crash/replay
    converges to base + each drop exactly once.

    The index must already exist (``get_or_build_index`` with the same
    identity); appending goes through a staged layout-preserving write
    so the files Spark sees always carry the index's spec."""
    if bool(bucket_col) == bool(partition_col):
        raise ValueError("exactly one of bucket_col / partition_col required")
    tbl = _table_name(
        name, fingerprint, bucket_col, n_buckets, partition_col, spec_version
    )
    path = f"{_STORE_DIR}/{tbl}"
    if not _complete(path):
        raise ValueError(f"append target index does not exist: {tbl}")
    marker = f"{path}.append_{append_tag}"
    intent = f"{path}.intent_{append_tag}"
    stage = f"{path}.stage_{append_tag}"
    if os.path.isfile(marker):
        # r12 ADVICE: a writer that crashed between os.remove(intent)
        # and the stage rmtree leaked the stage dir forever (every
        # later call fast-pathed out on the marker). The marker means
        # the commit FINISHED — journaled files were renamed out — so
        # any leftover stage content is garbage; safe outside the lock
        # because no writer ever re-enters a committed tag's stage.
        shutil.rmtree(stage, ignore_errors=True)
        _refresh_attached_if_stale(spark, tbl, marker)
        return False
    with _build_lock(path):
        if os.path.isfile(marker):  # re-check under the lock
            shutil.rmtree(stage, ignore_errors=True)
            _refresh_attached_if_stale(spark, tbl, marker)
            return False
        # publish into the CURRENT generation (resolved under the lock:
        # compaction holds the same flock, so the generation cannot
        # swap mid-commit)
        loc = _resolve_location(path)
        if os.path.isfile(intent):
            # a previous writer crashed between journal and commit:
            # finish ITS commit — never re-run build() (re-staging a
            # non-deterministic build after files were published would
            # duplicate rows)
            _roll_forward(intent, stage, loc)
        else:
            # crash before the journal leaves at most a partial stage,
            # none of it visible — discard and rebuild
            shutil.rmtree(stage, ignore_errors=True)
            files = _stage_dir_write(
                spark, build(), stage, tbl, append_tag, bucket_col, n_buckets,
                partition_col,
            )
            _write_intent(intent, files)
            _roll_forward(intent, stage, loc)
        _commit_marker(marker, append_tag)
        os.remove(intent)
        shutil.rmtree(stage, ignore_errors=True)
    # drop session memos so readers see the appended files
    _ATTACHED.pop((id(spark), tbl), None)
    _ATTACHED_AT.pop((id(spark), tbl), None)
    if spark.catalog.tableExists(tbl):
        spark.catalog.refreshTable(tbl)
    # Auto-compaction policy (r12 verdict #4): a year of daily drops
    # must not rely on a manual compact_index call. After the commit
    # (and after releasing the flock — compact_index re-acquires it;
    # flock is per-fd, so nesting would self-deadlock), measure the
    # worst bucket's / partition directory's fragment count and fold
    # the index back to one file per bucket when it crosses the
    # threshold. Exactly-once is unaffected: markers are
    # generation-independent siblings, so replayed drops still no-op
    # against the compacted generation. Threshold rationale in
    # SCALE.md: probes pay one parquet footer + (for bucketed layouts)
    # a lost sort-elision per extra fragment, linear in fragment
    # count; 8 bounds the worst-bucket read amplification at ~8x while
    # keeping compaction frequency ~1/8 of the drop cadence.
    if _max_fragments(path, partition_col) > AUTO_COMPACT_MAX_FRAGMENTS:
        compact_index(
            spark, name, fingerprint, bucket_col=bucket_col,
            n_buckets=n_buckets, partition_col=partition_col,
            spec_version=spec_version,
        )
    return True


def _stored_schema(spark: SparkSession, path: str):
    """Index schema: the sidecar written at build time, else inferred
    from the data files (pre-sidecar layouts)."""
    sidecar = f"{path}.schema.json"
    if os.path.isfile(sidecar):
        from pyspark.sql.types import StructType

        with open(sidecar) as f:
            return StructType.fromJson(__import__("json").loads(f.read()))
    # pre-sidecar layout: infer from the CURRENT generation's data files
    # (after a compaction the base directory's files are vacuumed away)
    return spark.read.parquet(_resolve_location(path)).schema


def get_or_build_index(
    spark: SparkSession,
    name: str,
    fingerprint: str,
    build: "callable[[], DataFrame]",
    bucket_col: str | None = None,
    n_buckets: int = 16,
    partition_col: str | None = None,
    spec_version: str = "v1",
) -> DataFrame:
    """Serve the index table ``name`` for the corpus ``fingerprint``
    from disk, building it (once, under a lock) if absent.

    - ``bucket_col`` set: written as an external BUCKETED table
      (one file per bucket, sorted by the bucket column) so equality /
      IN probes on that column bucket-prune; re-attached across
      processes via CLUSTERED BY DDL.
    - ``partition_col`` set: written as a directory-PARTITIONED table
      (one dir per value — the IVF-list layout) so probes prune via
      static or dynamic partition pruning.
    - neither: plain parquet directory (small sibling tables: df,
      totals, centroids).

    SESSION-MODE NOTE (ADVICE r11): attaching a BUCKETED index enters
    bucket mode session-wide — ``autoBucketedScan`` off and
    ``requireAllClusterKeysForCoPartition=false`` stay set until
    ``fixtures.clear_fixture_cache()`` restores them. Results of
    unrelated queries are unaffected (the confs only change plan
    shape), but their plans can differ; the confs cannot be scoped per
    probe because Catalyst resolves them at ACTION time, after the
    probe DataFrame has been handed to the caller. Every public entry
    that serves a bucketed index (search.bm25_disk_topk,
    search.bm25_index_append_topk, dedup.incremental_batch_dedup_disk,
    streaming.index_ingest) inherits this note by reference.
    """
    if bucket_col and partition_col:
        raise ValueError("bucket_col and partition_col are exclusive")
    tbl = _table_name(
        name, fingerprint, bucket_col, n_buckets, partition_col, spec_version
    )
    path = f"{_STORE_DIR}/{tbl}"
    memo = (id(spark), tbl)
    if memo in _ATTACHED:
        return _ATTACHED[memo]
    # Stamp BEFORE any build/refresh/attach work (ADVICE r14): the
    # attach paths below list files EAGERLY (refreshTable invalidates
    # then re-lists at analysis; DataFrameReader.parquet resolves its
    # InMemoryFileIndex inside load()), so a stamp taken AFTER them
    # could postdate an append that the listing missed — making
    # _refresh_attached_if_stale skip the refresh forever. Stamping
    # first is conservative: an append committing during the attach has
    # marker mtime >= this stamp and the next no-op re-entry refreshes.
    attach_started = time.time()

    if not _complete(path):
        with _build_lock(path):
            if not _complete(path):  # re-check under the lock
                df = build()
                # schema sidecar: an index that is legitimately EMPTY
                # at build time (day-zero streaming bootstrap) writes
                # no parquet data files, so a later attach cannot
                # infer its schema from the directory
                os.makedirs(_STORE_DIR, exist_ok=True)
                tmp = f"{path}.schema.json.tmp"
                with open(tmp, "w") as f:
                    f.write(df.schema.json())
                os.replace(tmp, f"{path}.schema.json")
                if bucket_col:
                    (
                        df.repartition(n_buckets, bucket_col)
                        .write.bucketBy(n_buckets, bucket_col)
                        .sortBy(bucket_col)
                        .option("path", path)
                        .mode("overwrite")
                        .saveAsTable(f"{tbl}_w")
                    )
                    # saveAsTable was only the writer; serving goes
                    # through the attach path below so fresh sessions
                    # and the building session share one code path
                    spark.sql(f"DROP TABLE IF EXISTS {tbl}_w")
                elif partition_col:
                    df.write.partitionBy(partition_col).mode(
                        "overwrite"
                    ).parquet(path)
                else:
                    df.write.mode("overwrite").parquet(path)

    if bucket_col:
        if spark.catalog.tableExists(tbl):
            # cold re-attach of a table this session already registered:
            # another PROCESS may have appended since (the markers make
            # that legal), and Spark caches the file listing — refresh so
            # the attach reflects current on-disk state. Once per memo
            # fill, so probe-path cost is unchanged.
            spark.catalog.refreshTable(tbl)
        else:
            schema = _stored_schema(spark, path)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema
            )
            # LOCATION = the current GENERATION (post-compaction the
            # pointer names a rewritten directory; generation 0 is the
            # base path)
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
                f"CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`) "
                f"INTO {n_buckets} BUCKETS LOCATION '{_resolve_location(path)}'"
            )
        # bucket pruning works regardless of autoBucketedScan, but the
        # exchange-free probe joins need the bucket-mode confs; enter
        # the session mode through the shared helper
        from mmw_geoprocessing_spark.sources import fixtures as fx

        fx.enter_bucket_mode(spark)
        out = spark.table(tbl)
    else:
        # attach through the schema sidecar when present: an index that
        # is legitimately EMPTY (day-zero streaming bootstrap — the IVF
        # stream starts from zero cells exactly like the BM25 stream's
        # empty bucketed table) holds no data files to infer from, and
        # an explicit schema also keeps partition-column typing stable
        # across appends. Partition discovery still reads the ``col=…``
        # directory names; the schema just types them.
        loc = _resolve_location(path)
        if os.path.isfile(f"{path}.schema.json"):
            out = spark.read.schema(_stored_schema(spark, path)).parquet(loc)
        else:
            out = spark.read.parquet(loc)
    _ATTACHED_AT[memo] = attach_started
    _ATTACHED[memo] = out
    return out


#: bucket id inside Spark's bucketed file name
#: (``part-NNNNN-<uuid>_<bucket>.c000.snappy.parquet``) — the uuid is
#: hyphen-separated, so the first underscore-digits group IS the bucket
_BUCKET_ID_RE = re.compile(r"_(\d{5})\.")


#: auto-compaction trigger: worst-case data files per bucket (or per
#: partition directory) tolerated before ``append_once`` folds the
#: index back to one file per bucket. See SCALE.md §auto-compaction.
AUTO_COMPACT_MAX_FRAGMENTS = 8


def _max_fragments(path: str, partition_col: str | None) -> int:
    """Worst fragment count across buckets (bucketed layout, bucket id
    parsed from the file name) or partition directories (partitioned
    layout, first path component) in the CURRENT generation."""
    from collections import Counter

    counts: Counter[str] = Counter()
    for fn in _data_files(_resolve_location(path)):
        if partition_col:
            head, _, _tail = fn.partition(os.sep)
            counts[head if _tail else "."] += 1
        else:
            m = _BUCKET_ID_RE.search(os.path.basename(fn))
            if m is None:
                # r13 ADVICE: an unparseable name counted as its own
                # singleton bucket could never trip the trigger, while
                # _bucket_fragmented treats the same name as
                # fragmentation — keep the two heuristics agreeing by
                # forcing compaction (conservative, same as there)
                return AUTO_COMPACT_MAX_FRAGMENTS + 1
            counts[m.group(1)] += 1
    return max(counts.values(), default=0)


def _bucket_fragmented(files: list[str]) -> bool:
    """True iff any bucket id owns more than one data file. r12
    ADVICE: the old total-count heuristic (``len(files) <= n_buckets``)
    skipped compaction whenever the base build emitted fewer files
    than n_buckets and appended fragments kept the total under the
    cap, leaving multi-fragment buckets. A name that doesn't parse is
    treated as fragmentation (conservative: compact)."""
    seen: set[str] = set()
    for fn in files:
        m = _BUCKET_ID_RE.search(os.path.basename(fn))
        if m is None or m.group(1) in seen:
            return True
        seen.add(m.group(1))
    return False


def _repair_pending_appends(path: str, loc: str) -> int:
    """Complete every crashed append commit (intent present, marker
    absent) before a maintenance rewrite touches the file set —
    otherwise compaction would fold a HALF-published drop into the new
    generation and the eventual replay could not tell which journaled
    files already landed. Runs under the caller's flock."""
    import glob as _glob

    n = 0
    for intent in sorted(_glob.glob(path + ".intent_*")):
        tag = os.path.basename(intent).split(".intent_", 1)[1]
        _roll_forward(intent, f"{path}.stage_{tag}", loc)
        _commit_marker(f"{path}.append_{tag}", tag)
        os.remove(intent)
        shutil.rmtree(f"{path}.stage_{tag}", ignore_errors=True)
        n += 1
    # r12 ADVICE: also sweep stage dirs leaked by writers that crashed
    # AFTER removing the intent but before the stage rmtree — the tag
    # is committed (marker present, intent gone), the stage is garbage
    for stale in sorted(_glob.glob(path + ".stage_*")):
        tag = os.path.basename(stale).split(".stage_", 1)[1]
        if os.path.isfile(f"{path}.append_{tag}") and not os.path.isfile(
            f"{path}.intent_{tag}"
        ):
            shutil.rmtree(stale, ignore_errors=True)
    return n


def compact_index(
    spark: SparkSession,
    name: str,
    fingerprint: str,
    bucket_col: str | None = None,
    n_buckets: int = 16,
    partition_col: str | None = None,
    spec_version: str = "v1",
    vacuum: bool = True,
) -> dict:
    """Rewrite the appended bucketed index back to ONE file per bucket
    (r11 verdict #1: every ``append_once`` drop lands one extra file
    per touched bucket, so K drops → K+1 files/bucket — after a year
    of daily crawls the probe reads hundreds of fragments per bucket
    and the sort-metadata optimizations are long gone; the reference's
    analogue is layer-catalog compaction, ``Utils.scala:22-23``).

    Protocol (under the same per-index flock as append_once, so a
    compaction never races an append):

    1. repair: roll forward any crashed append commits first — a
       rewrite must only ever fold FULLY-committed drops.
    2. rewrite: read the current generation, write it as a fresh
       bucketed table (same CLUSTERED BY spec — bucket assignment is
       the same hash, so pruning survives; one file per bucket, sorted,
       which also restores the sort-elision property appends eroded)
       into a NEW generation directory.
    3. swap: atomically point ``.current`` at the new generation
       (os.replace) — readers see the old file set or the new one,
       never a mix — and re-point this session's catalog entry.
    4. vacuum: drop generations older than the new one (optional;
       sessions in OTHER processes attached to the old generation keep
       serving it until they re-attach, so production retention should
       exceed the longest session lifetime — the same
       retention-horizon rule as maintenance.vacuum/time-travel).

    Append markers are SIBLINGS of the base path, not generation
    contents, so exactly-once survives compaction: a replayed
    pre-compaction drop still finds its marker and no-ops; new drops
    append one file per bucket into the new generation.

    PARTITIONED indexes (the IVF cell layout) compact the same way:
    each ``cell=…`` directory accumulates one file per drop; the
    rewrite clusters each partition value into one task so the new
    generation holds ONE file per cell directory, and partition
    discovery / DPP are layout-properties of the directory names, so
    they survive untouched.

    Returns ``{"compacted", "files_before", "files_after",
    "location", "repaired_appends"}``."""
    if bool(bucket_col) == bool(partition_col):
        raise ValueError("exactly one of bucket_col / partition_col required")
    tbl = _table_name(
        name, fingerprint, bucket_col, n_buckets, partition_col, spec_version
    )
    path = f"{_STORE_DIR}/{tbl}"
    if not _complete(path):
        raise ValueError(f"compaction target index does not exist: {tbl}")
    with _build_lock(path):
        loc = _resolve_location(path)
        repaired = _repair_pending_appends(path, loc)
        before = _data_files(loc)
        if partition_col:
            # compact when any partition directory holds >1 file
            n_parts = sum(
                1
                for d in os.listdir(loc)
                if d.startswith(f"{partition_col}=")
                and os.path.isdir(os.path.join(loc, d))
            )
            already = len(before) <= max(n_parts, 1)
        else:
            already = not _bucket_fragmented(before)
        if already:
            return {
                "compacted": False,
                "files_before": len(before),
                "files_after": len(before),
                "location": loc,
                "repaired_appends": repaired,
            }
        gen = 1 + (int(loc.rsplit(".gen", 1)[1]) if ".gen" in loc else 0)
        new_loc = f"{path}.gen{gen}"
        # a crashed previous compaction attempt never swapped the
        # pointer, so its directory is dead weight — rebuild it
        shutil.rmtree(new_loc, ignore_errors=True)
        schema = _stored_schema(spark, path)
        if not os.path.isfile(f"{path}.schema.json"):
            # backfill the sidecar for pre-sidecar layouts: after the
            # vacuum below, generation 0 holds no data files to infer from
            tmp = f"{path}.schema.json.tmp"
            with open(tmp, "w") as f:
                f.write(schema.json())
            os.replace(tmp, f"{path}.schema.json")
        if bucket_col:
            rewrite_tbl = re.sub(r"\W", "_", f"{tbl}_compact_g{gen}")
            (
                spark.read.schema(schema)
                .parquet(loc)
                .repartition(n_buckets, bucket_col)
                .write.bucketBy(n_buckets, bucket_col)
                .sortBy(bucket_col)
                .option("path", new_loc)
                .mode("overwrite")
                .saveAsTable(rewrite_tbl)
            )
            spark.sql(f"DROP TABLE IF EXISTS {rewrite_tbl}")
        else:
            # partition discovery restores the partition column from the
            # directory names; repartition on it clusters every value
            # into one task -> one file per partition directory
            from pyspark.sql import functions as _F

            (
                spark.read.parquet(loc)
                .repartition(_F.col(partition_col))
                .write.partitionBy(partition_col)
                .mode("overwrite")
                .parquet(new_loc)
            )
        after = _data_files(new_loc)
        tmp = path + ".current.tmp"
        with open(tmp, "w") as f:
            f.write(new_loc)
        os.replace(tmp, path + ".current")
        if spark.catalog.tableExists(tbl):
            spark.sql(f"ALTER TABLE {tbl} SET LOCATION '{new_loc}'")
            spark.catalog.refreshTable(tbl)
        if vacuum:
            # Retention = one generation: the NEW generation serves and
            # the immediately-PREVIOUS one stays on disk for readers
            # that attached just before the pointer swap (another
            # process mid-scan must not have its files deleted under
            # it); anything older goes. vacuum_index() is the explicit
            # "no readers remain" cleanup — the same retention-horizon
            # decision as maintenance.vacuum vs time travel.
            import glob as _glob

            keep = {new_loc, loc}
            for old in _glob.glob(path + ".gen*"):
                if old not in keep:
                    shutil.rmtree(old, ignore_errors=True)
            if path not in keep and os.path.isdir(path):
                # generation 0 past retention: clear the superseded data
                # files but keep the directory + _SUCCESS — it is the
                # index's identity anchor (_complete resolves through
                # the pointer)
                for fn in _data_files(path):
                    os.remove(os.path.join(path, fn))
    _ATTACHED.pop((id(spark), tbl), None)
    _ATTACHED_AT.pop((id(spark), tbl), None)
    return {
        "compacted": True,
        "files_before": len(before),
        "files_after": len(after),
        "location": new_loc,
        "repaired_appends": repaired,
    }


def vacuum_index(
    spark: SparkSession,
    name: str,
    fingerprint: str,
    bucket_col: str | None = None,
    n_buckets: int = 16,
    partition_col: str | None = None,
    spec_version: str = "v1",
) -> int:
    """Remove every NON-CURRENT generation of the index — the explicit
    retention decision ("no reader still holds the old file listing"),
    separated from compaction on purpose: compaction keeps the
    immediately-previous generation so readers attached before the
    pointer swap finish their scans. Returns the number of superseded
    generations removed. Runs under the index flock."""
    tbl = _table_name(
        name, fingerprint, bucket_col, n_buckets, partition_col, spec_version
    )
    path = f"{_STORE_DIR}/{tbl}"
    removed = 0
    with _build_lock(path):
        import glob as _glob

        cur = _resolve_location(path)
        for old in _glob.glob(path + ".gen*"):
            if old != cur:
                shutil.rmtree(old, ignore_errors=True)
                removed += 1
        if path != cur and os.path.isdir(path) and _data_files(path):
            for fn in _data_files(path):
                os.remove(os.path.join(path, fn))
            removed += 1
    return removed
