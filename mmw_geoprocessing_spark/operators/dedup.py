"""Deduplication operators for large-scale training-data pipelines.

Four families, all expressed as shuffles-on-keys (never all-pairs):

- exact: hash-groupBy on a content digest — one shuffle, fully scalable.
- n-gram Jaccard: candidate pairs via an inverted shingle index
  (documents sharing >=1 shingle), exact Jaccard verification. The
  shingle join is the classic "similarity join via prefix/inverted
  index" shape: cost is sum over shingles of (docs-per-shingle choose 2),
  not (N choose 2).
- MinHash + LSH: 64 md5-derived permutations -> 16 bands x 4 rows ->
  band-bucket self-join for candidates -> exact-Jaccard verification.
  At 100 TB this is the only family that touches each document O(1)
  times; band joins shuffle on short band-key strings.
- SimHash: 60-bit sign-aggregated fingerprint; candidates via 15-bit
  chunk banding (a pair within Hamming distance 3 must agree on >=1 of
  4 chunks); verification via bit_count(xor) <= 3.

Every step is deterministic (md5-derived hashes, fixed parameters), so
each operator has an exact DuckDB oracle — including the LSH pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.functions.text import (
    MINHASH_N,
    MINHASH_P,
    h28,
    h60,
    minhash_params,
    shingles_from_words,
    words,
)

N_BANDS = 16
ROWS_PER_BAND = MINHASH_N // N_BANDS  # 4
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS  # 15


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup via content digest: one hash-aggregate.

    Output: ``(text_md5, n_dups, keep_doc_id)`` — the canonical survivor
    is the minimum doc_id per digest group.
    """
    return (
        documents.select(F.md5("text").alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
    )


def exact_dedup_sql() -> str:
    return """
    SELECT md5(text) AS text_md5, COUNT(*) AS n_dups, MIN(doc_id) AS keep_doc_id
    FROM documents GROUP BY 1
    """


def _doc_shingles(documents: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the inverted-index input.

    The word list is materialized as its own projection before the
    shingle lambda references it: the inlined ``shingles(text)`` form
    re-evaluates ``split(text)`` per window (O(len²) characters per
    doc; the sampling._word_hashes rule)."""
    return (
        documents.select("doc_id", words(F.col("text")).alias("_l"))
        .select("doc_id", F.explode(shingles_from_words(F.col("_l"))).alias("s"))
        .dropDuplicates(["doc_id", "s"])
    )


# (applicationId, semantic hash of the input plan) -> persisted shingle
# table. The shingle table feeds several plan branches within one
# operator AND repeat executions of a prepared query; memoizing the
# persisted DataFrame per distinct input (instead of persist()-ing a
# fresh copy per call, which leaked one cached table per invocation
# into executor storage) gives it the same session-scoped lifetime as
# sources.fixtures._FIXTURE_CACHE. Bounded LRU: long-lived sessions
# processing many distinct corpora evict (and unpersist) the oldest
# entry rather than accumulating persisted tables unboundedly.
import threading
from collections import OrderedDict

_SHINGLE_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
_SHINGLE_CACHE_MAX = 8
# Eviction makes the LRU a mutating structure: without a lock, a
# concurrent popitem between another thread's membership check and its
# lookup raises KeyError, and racing inserts double-persist one plan.
_SHINGLE_CACHE_LOCK = threading.Lock()


def _shingles_persisted(documents: DataFrame) -> DataFrame:
    try:
        key = (
            # applicationId: stable per SparkContext, never GC-reused —
            # id(session) could be handed to a NEW session after the old
            # one is collected, silently serving another corpus's table
            documents.sparkSession.sparkContext.applicationId,
            documents._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        # No stable identity for this plan -> do NOT cache. The caller
        # still gets correct results; the plan's branches just
        # recompute shingles.
        return _doc_shingles(documents)
    with _SHINGLE_CACHE_LOCK:
        cached = _SHINGLE_CACHE.get(key)
        if cached is not None:
            _SHINGLE_CACHE.move_to_end(key)
            return cached
        evicted = []
        while len(_SHINGLE_CACHE) >= _SHINGLE_CACHE_MAX:
            evicted.append(_SHINGLE_CACHE.popitem(last=False)[1])
        df = _doc_shingles(documents).persist()
        _SHINGLE_CACHE[key] = df
    for old in evicted:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    return df


def clear_shingle_cache() -> None:
    """Explicit invalidate hook: unpersist and drop every cached shingle
    table AND the derived ngram ranked-array index (e.g. between corpora
    in a long-lived service session)."""
    try:
        _NGRAM_ARR_CACHE.clear()
    except NameError:
        pass  # module still initializing
    with _SHINGLE_CACHE_LOCK:
        dropped = list(_SHINGLE_CACHE.values())
        _SHINGLE_CACHE.clear()
    for df in dropped:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


from mmw_geoprocessing_spark.functions.plan_cache import PlanCache

# df-ranked shingle-array table per (corpus, threshold) — the ngram
# family's ingest-time index, lifecycle-managed like the shingle cache
# (clear via clear_shingle_cache()).
_NGRAM_ARR_CACHE = PlanCache()


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs by exact 3-gram-shingle Jaccard >= threshold.

    Candidates come from a TRUE prefix filter (All-Pairs / PPJoin):
    each document's shingles are ranked by ascending global document
    frequency (ties by shingle — one canonical order for the corpus),
    and only the first ``n - ceil(t*n) + 1`` shingles form its index
    prefix; candidates = pairs sharing a shingle in BOTH prefixes.
    Lossless: J(r, s) >= t forces overlap >= ceil(t*max(n_r, n_s))
    (if n_s < t*n_r the Jaccard bound already fails), and two sets
    whose overlap is that large must collide inside these prefixes.
    Unlike the former hot-shingle df-cap, a cluster of thousands of
    exact duplicates (whose every shingle is hot) is still found — its
    prefixes are identical, and the quadratic candidate cost it incurs
    is the size of the true output, not wasted work. Rare-first
    ordering keeps prefixes off stop-shingles for ordinary documents,
    which is what bounds the inverted-index skew at 100 TB.
    Jaccard is then verified on the FULL shingle sets restricted to the
    candidate pairs.

    Shuffle budget (the r6 plan audit's heaviest query, since
    collapsed): ONE rank-and-pack aggregation per doc produces the
    df-sorted shingle array, its size, and the prefix slice together —
    the former per-stage re-shuffles of the (doc_id, s) table (window
    rank, size join, full-set verify join on (d2, s), intersection
    groupBy) are replaced by doc-partitioned array rows, so
    verification is a JVM-side ``array_intersect`` on the two joined
    rows with no shuffle of shingle-level data at all. Per-row cost is
    bounded by document length — the same bound the pairwise verify
    always had. Exchanges: ~14 vs the previous 56 (tools/plan_audit.py).
    Output: ``(d1, d2, jaccard)``.
    """
    sh = _shingles_persisted(documents)

    def build_arr(shingle_tbl: DataFrame) -> DataFrame:
        dfreq = shingle_tbl.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        p_len = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
        return (
            shingle_tbl.join(dfreq, "s")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("ranked"))
            .select(
                "doc_id",
                F.col("ranked.s").alias("ss"),  # ascending (df, s) — canonical rank
                F.size("ranked").alias("n"),
            )
            .withColumn("prefix", F.slice(F.col("ss"), F.lit(1), p_len))
        )

    # the ranked-array table is consumed THREE times (prefix explode +
    # both verify sides); persisting it through the shared index cache
    # is what collapses the former 56-exchange plan — without it each
    # consumer re-derives the dfreq join + aggregation
    docs_arr = _NGRAM_ARR_CACHE.get_or_persist(
        sh, f"ngram_arr:{threshold}", build_arr
    )
    pref = docs_arr.select("doc_id", F.explode("prefix").alias("s"))
    cand = (
        pref.select(F.col("doc_id").alias("d1"), "s")
        .join(pref.select(F.col("doc_id").alias("d2"), "s"), "s")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )
    # exact verification: join each side's full array row (the doc_id
    # aggregation above already partitions docs_arr on the join key)
    # and intersect in-expression — no shingle-level shuffle
    a = docs_arr.select(
        F.col("doc_id").alias("d1"), F.col("ss").alias("ss1"), F.col("n").alias("n1")
    )
    b = docs_arr.select(
        F.col("doc_id").alias("d2"), F.col("ss").alias("ss2"), F.col("n").alias("n2")
    )
    inter = F.size(F.array_intersect(F.col("ss1"), F.col("ss2")))
    return (
        cand.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            (inter / (F.col("n1") + F.col("n2") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(threshold: float = 0.5) -> str:
    """Oracle twin of the array-packed plan above. Round 7 replaced the
    former shingle-level formulation (window rank + candidate join +
    shingle-level verify joins + intersection GROUP BY) with the SAME
    array shape the Spark plan uses: one ranked list() per doc, prefix
    slice, candidates from the exploded prefix, list_intersect verify.
    Same math, same rows — but the shingle-level verify joins needed
    >100 GB at the sf10 replica (500 k docs, 60 M shingles; OOM-killed),
    while the array form holds one ~1 GB doc-array table."""
    from mmw_geoprocessing_spark.functions.text import SHINGLES_CTE_SQL

    return f"""
    WITH sh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM ({SHINGLES_CTE_SQL})),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
    arr AS MATERIALIZED (
      -- MATERIALIZED (and sh/pref above/below): arr is referenced 3x
      -- (pref + both sides of the verify join), sh 2x, pref 2x — as
      -- plain CTEs DuckDB re-ran the non-spillable list build per
      -- reference, which is what OOM-killed the sf10 oracle in r8
      -- even at a 90 GB cap (SCALE.md "Oracle-side evaluation
      -- discipline"). Materialized, the ~1 GB doc-array table builds
      -- once.
      SELECT sh.doc_id,
             list(sh.s ORDER BY dfreq.df, sh.s) AS ss,
             COUNT(*) AS n
      FROM sh JOIN dfreq USING (s)
      GROUP BY sh.doc_id
    ),
    pref AS MATERIALIZED (
      SELECT doc_id,
             UNNEST(list_slice(ss, 1, CAST(n - CEIL({threshold} * n) + 1 AS BIGINT))) AS s
      FROM arr
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM pref a JOIN pref b USING (s) WHERE a.doc_id < b.doc_id
    ),
    v AS (
      SELECT c.d1, c.d2,
             len(list_intersect(x.ss, y.ss)) AS inter, x.n AS n1, y.n AS n2
      FROM cand c JOIN arr x ON c.d1 = x.doc_id JOIN arr y ON c.d2 = y.doc_id
    )
    SELECT d1, d2, inter / (n1 + n2 - inter) AS jaccard
    FROM v
    WHERE inter / (n1 + n2 - inter) >= {threshold}
    """


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    # F.expr strings instead of nested Column ops: each built Column is
    # a py4j round-trip, and 64 x min((a*h+b)%P) built op-by-op cost
    # ~0.5 s of plan-CONSTRUCTION time per fresh query (measured r5) —
    # one parsed string per aggregate is ~10x fewer driver round-trips
    # with an identical expression tree after parsing.
    hashed = sh.withColumn("h", h28(F.col("s")))
    aggs = []
    for i in range(MINHASH_N):
        a, b = minhash_params(i)
        aggs.append(F.expr(f"min(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"))
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """64-permutation MinHash signature per document.

    One aggregate over the distinct-shingle table: 64 ``min((a*h+b)%P)``
    expressions — map-side partial aggregation collapses everything
    before a single tiny shuffle.
    Output: ``(doc_id, mh0..mh63)``.
    """
    return _signatures_from_shingles(_doc_shingles(documents))


def _minhash_sql_cte() -> str:
    from mmw_geoprocessing_spark.functions.text import H28_SQL, SHINGLES_CTE_SQL

    h = H28_SQL.format(x="s")
    aggs = ", ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in ((i, minhash_params(i)) for i in range(MINHASH_N))
    )
    # sh AS MATERIALIZED: every LSH oracle references sh 2-3 times
    # (hashed + both sides of the exact-Jaccard inter join); as a plain
    # CTE DuckDB re-runs the corpus-wide shingle UNNEST per reference —
    # the dominant term in the 100x-replica oracle's memory/spill
    # (SCALE.md "Oracle-side evaluation discipline").
    return (
        f"sh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM ({SHINGLES_CTE_SQL})), "
        f"hashed AS (SELECT doc_id, {h} AS h FROM sh), "
        f"mh AS (SELECT doc_id, {aggs} FROM hashed GROUP BY doc_id)"
    )


def minhash_signatures_sql() -> str:
    return f"WITH {_minhash_sql_cte()} SELECT * FROM mh"


def _band_key_sql(i: int) -> str:
    cols = ", ".join(
        f"cast(mh{j} as string)" for j in range(i * ROWS_PER_BAND, (i + 1) * ROWS_PER_BAND)
    )
    return f"concat_ws('_', {cols})"


def _minhash_bands(sh: DataFrame) -> DataFrame:
    """Ingest-time LSH band index ``(doc_id, band, bkey)`` — 16 rows per
    doc — persisted per (session, corpus) like the ngram ranked-array
    index. The 64-aggregate signature computation (the expensive step)
    runs ONCE when the index is built; warm calls serve candidates from
    the cached rows."""

    return _NGRAM_ARR_CACHE.get_or_persist(sh, "minhash_bands", _band_rows)


def _band_rows(shingle_tbl: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) rows from a shingle table: signatures ->
    single parsed expression for the 16 (band, key) structs (see the
    plan-construction note in _signatures_from_shingles) -> explode."""
    mh = _signatures_from_shingles(shingle_tbl)
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {i}, 'bkey', {_band_key_sql(i)})"
            for i in range(N_BANDS)
        )
        + ")"
    )
    return mh.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def _shingle_arrays(sh: DataFrame) -> DataFrame:
    """Doc-packed shingle arrays ``(doc_id, ss, n)`` (canonical sort) —
    the verification-side index shared by exact-Jaccard checks: joining
    two array ROWS and intersecting in-expression replaces the former
    shingle-level (d2, s) shuffle, the same collapse that took the
    ngram plan from 56 exchanges to ~14 (ngram keeps its own df-ranked
    variant because its PREFIX needs the rarity order; plain Jaccard
    verification doesn't)."""

    def build(shingle_tbl: DataFrame) -> DataFrame:
        return shingle_tbl.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("s")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        )

    return _NGRAM_ARR_CACHE.get_or_persist(sh, "shingle_arr", build)


def minhash_lsh_neardup(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-dup detection with exact-Jaccard verification.

    Signature -> 16 band keys per doc (melted to rows, served from the
    persisted ingest-time band index) -> self-join on (band, key) for
    candidates -> exact shingle-Jaccard >= threshold via the persisted
    doc-array index (JVM ``array_intersect`` on two joined rows — no
    shingle-level shuffle in the verify).
    Output: ``(d1, d2, jaccard)``.
    """
    # the shingle table feeds both derived indexes; the session-scoped
    # persisted cache shares one materialization across branches and
    # repeat executions
    sh = _shingles_persisted(documents)
    bands = _minhash_bands(sh)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bkey"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    # exact-Jaccard verification restricted to the candidate pairs — the
    # whole point of LSH: never touch the full pair space
    docs_arr = _shingle_arrays(sh)
    a = docs_arr.select(
        F.col("doc_id").alias("d1"), F.col("ss").alias("ss1"), F.col("n").alias("n1")
    )
    b = docs_arr.select(
        F.col("doc_id").alias("d2"), F.col("ss").alias("ss2"), F.col("n").alias("n2")
    )
    inter = F.size(F.array_intersect(F.col("ss1"), F.col("ss2")))
    return (
        cand.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            (inter / (F.col("n1") + F.col("n2") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_neardup_sql(threshold: float = 0.5) -> str:
    from mmw_geoprocessing_spark.functions.text import SHINGLES_CTE_SQL

    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {i} AS band, {key} AS bkey FROM mh".format(
            i=i,
            key=" || '_' || ".join(
                f"CAST(mh{j} AS VARCHAR)"
                for j in range(i * ROWS_PER_BAND, (i + 1) * ROWS_PER_BAND)
            ),
        )
        for i in range(N_BANDS)
    )
    return f"""
    WITH {_minhash_sql_cte()},
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM bands x JOIN bands y USING (band, bkey)
      WHERE x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT d1, d2, inter / (n1.n + n2.n - inter) AS jaccard
      FROM inter JOIN sizes n1 ON d1 = n1.doc_id JOIN sizes n2 ON d2 = n2.doc_id
      WHERE inter / (n1.n + n2.n - inter) >= {threshold}
    )
    SELECT d1, d2, jaccard FROM cand JOIN verified USING (d1, d2)
    """


# Deterministic incoming-batch membership for the incremental dedup
# operator: ~10% of the corpus plays the "today's crawl" batch, the
# rest the already-ingested reference corpus.
INCREMENTAL_BATCH_MOD = 10
INCREMENTAL_BATCH_REM = 7


def incremental_batch_dedup(
    documents: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Dedup an INCOMING batch against a persisted REFERENCE corpus —
    the shape a daily-crawl pipeline actually runs at 100 TB: never
    re-dedup the corpus, LSH-probe the new documents against the
    ingest-time band index and admit only the novel ones.

    Batch membership is the deterministic id split above (both sides
    come from the one fixture table). Plan: the incoming side's band
    rows equi-join the reference side's on ``(band, bkey)`` — NO
    incoming×incoming or reference×reference pairs are ever formed —
    then exact-Jaccard verification over the persisted doc-array index
    confirms candidates. Both band index and doc arrays are served
    from the session-persisted ingest-time indexes (``PlanCache``), so
    the warm cost is proportional to the BATCH, not the corpus; at
    deployment scale the reference index is the bucketed table the
    corpus build already wrote, making the probe join one-sided.

    Output: ``(doc_id, n_ref_matches)`` for every incoming doc —
    admitted iff ``n_ref_matches = 0``. The count (distinct reference
    docs with verified Jaccard >= threshold) is exact-integer, so the
    row set hashes cross-engine.
    """
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == INCREMENTAL_BATCH_REM
    sh = _shingles_persisted(documents)
    bands = _minhash_bands(sh)
    cand = (
        bands.filter(is_batch)
        .select(F.col("doc_id").alias("inc_id"), "band", "bkey")
        .join(
            bands.filter(~is_batch).select(
                F.col("doc_id").alias("ref_id"), "band", "bkey"
            ),
            ["band", "bkey"],
        )
        .select("inc_id", "ref_id")
        .dropDuplicates(["inc_id", "ref_id"])
    )
    docs_arr = _shingle_arrays(sh)
    a = docs_arr.select(
        F.col("doc_id").alias("inc_id"), F.col("ss").alias("ss1"), F.col("n").alias("n1")
    )
    b = docs_arr.select(
        F.col("doc_id").alias("ref_id"), F.col("ss").alias("ss2"), F.col("n").alias("n2")
    )
    inter = F.size(F.array_intersect(F.col("ss1"), F.col("ss2")))
    matches = (
        cand.join(a, "inc_id")
        .join(b, "ref_id")
        .filter(
            (inter / (F.col("n1") + F.col("n2") - inter)) >= threshold
        )
        .groupBy("inc_id")
        .agg(F.count(F.lit(1)).alias("n_ref_matches"))
    )
    incoming = documents.filter(is_batch).select("doc_id")
    return incoming.join(
        matches.withColumnRenamed("inc_id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_ref_matches"), F.lit(0)).cast("bigint").alias(
            "n_ref_matches"
        ),
    )


def incremental_batch_dedup_sql(threshold: float = 0.5) -> str:
    """DuckDB twin: identical signature pipeline, batch-vs-reference
    band join, exact-Jaccard verification, left-join count."""
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {i} AS band, {key} AS bkey FROM mh".format(
            i=i,
            key=" || '_' || ".join(
                f"CAST(mh{j} AS VARCHAR)"
                for j in range(i * ROWS_PER_BAND, (i + 1) * ROWS_PER_BAND)
            ),
        )
        for i in range(N_BANDS)
    )
    m, r = INCREMENTAL_BATCH_MOD, INCREMENTAL_BATCH_REM
    return f"""
    WITH {_minhash_sql_cte()},
    bands AS MATERIALIZED ({band_rows}),
    cand AS (
      SELECT DISTINCT x.doc_id AS inc_id, y.doc_id AS ref_id
      FROM (SELECT * FROM bands WHERE doc_id % {m} = {r}) x
      JOIN (SELECT * FROM bands WHERE doc_id % {m} <> {r}) y
      USING (band, bkey)
    ),
    sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS inc_id, b.doc_id AS ref_id, COUNT(*) AS inter
      FROM (SELECT * FROM sh WHERE doc_id % {m} = {r}) a
      JOIN (SELECT * FROM sh WHERE doc_id % {m} <> {r}) b USING (s)
      GROUP BY 1, 2
    ),
    matches AS (
      SELECT inc_id, CAST(COUNT(*) AS BIGINT) AS n_ref_matches
      FROM cand
      JOIN inter USING (inc_id, ref_id)
      JOIN sizes n1 ON inc_id = n1.doc_id
      JOIN sizes n2 ON ref_id = n2.doc_id
      WHERE inter / (n1.n + n2.n - inter) >= {threshold}
      GROUP BY 1
    )
    SELECT d.doc_id, COALESCE(m2.n_ref_matches, 0) AS n_ref_matches
    FROM (SELECT doc_id FROM documents WHERE doc_id % {m} = {r}) d
    LEFT JOIN matches m2 ON d.doc_id = m2.inc_id
    """


def probe_ref_indexes(
    documents: DataFrame,
    is_batch,
    ref_bands: DataFrame,
    ref_arrays: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """The ONE reference-index probe every durable-minhash face shares
    (disk / batch-append / stream-append serve): band-join the incoming
    batch's signatures against the bkey-bucketed reference band index,
    verify candidates by exact Jaccard against the doc_id-bucketed
    shingle-array index, and report ``(doc_id, n_ref_matches)`` for
    every incoming document. The probe join's only exchange is
    batch-sized — the reference side reads its buckets in place."""
    inc_sh = _shingles_persisted(documents.filter(is_batch))
    inc_bands = _band_rows(inc_sh)
    cand = (
        inc_bands.select(F.col("doc_id").alias("inc_id"), "band", "bkey")
        .join(
            ref_bands.select(F.col("doc_id").alias("ref_id"), "band", "bkey"),
            ["band", "bkey"],
        )
        .select("inc_id", "ref_id")
        .dropDuplicates(["inc_id", "ref_id"])
    )
    a = (
        inc_sh.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("s")).alias("ss1"),
            F.count(F.lit(1)).alias("n1"),
        )
        .withColumnRenamed("doc_id", "inc_id")
    )
    b = ref_arrays.select(
        F.col("doc_id").alias("ref_id"),
        F.col("ss").alias("ss2"),
        F.col("n").alias("n2"),
    )
    inter = F.size(F.array_intersect(F.col("ss1"), F.col("ss2")))
    matches = (
        cand.join(a, "inc_id")
        .join(b, "ref_id")
        .filter((inter / (F.col("n1") + F.col("n2") - inter)) >= threshold)
        .groupBy("inc_id")
        .agg(F.count(F.lit(1)).alias("n_ref_matches"))
    )
    incoming = documents.filter(is_batch).select("doc_id")
    return incoming.join(
        matches.withColumnRenamed("inc_id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_ref_matches"), F.lit(0)).cast("bigint").alias(
            "n_ref_matches"
        ),
    )


def incremental_batch_dedup_disk(
    spark, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """``incremental_batch_dedup`` probing DURABLE on-disk reference
    indexes (r10 verdict #2): the reference corpus's LSH band index
    ``(doc_id, band, bkey)`` is written ONCE as parquet BUCKETED BY
    bkey, and its shingle arrays ``(doc_id, ss, n)`` bucketed by
    doc_id; a fresh session re-attaches both and pays only the
    BATCH-side work (shingle + signature of the incoming docs) — the
    daily-crawl serving shape with the corpus-side cost moved to
    ingest *permanently*, not per process.

    Plan shape at scale: the incoming band rows SHUFFLE INTO the
    reference index's bkey bucketing (the probe join's only exchange
    is batch-sized — the corpus side reads its buckets in place,
    ``requireAllClusterKeysForCoPartition=false`` letting the
    (band, bkey) join ride the bkey buckets); verification joins the
    small candidate set against the doc_id-bucketed array index.
    Results identical to ``incremental_batch_dedup`` -> same oracle."""
    from mmw_geoprocessing_spark.sources.index_store import (
        corpus_fingerprint,
        get_or_build_index,
    )
    from mmw_geoprocessing_spark.sources.tables import load_table

    fp = corpus_fingerprint(sf_dir, "documents")
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == INCREMENTAL_BATCH_REM

    def _ref_docs() -> DataFrame:
        return load_table(spark, sf_dir, "documents").filter(~is_batch)

    ref_bands = get_or_build_index(
        spark,
        "lsh_ref_bands",
        fp,
        lambda: _band_rows(_doc_shingles(_ref_docs())),
        bucket_col="bkey",
    )
    ref_arrays = get_or_build_index(
        spark,
        "lsh_ref_arrays",
        fp,
        lambda: _doc_shingles(_ref_docs())
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("s")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        ),
        bucket_col="doc_id",
    )

    documents = load_table(spark, sf_dir, "documents")
    return probe_ref_indexes(documents, is_batch, ref_bands, ref_arrays, threshold)


def incremental_batch_dedup_disk_sql(threshold: float = 0.5) -> str:
    """Identical results -> the same oracle as the session-cached plan."""
    return incremental_batch_dedup_sql(threshold=threshold)


#: deterministic "yesterday's reference drop" slice (disjoint from the
#: incoming-batch remainder 7): the reference corpus itself is built
#: incrementally — base at its ingest, this drop appended later
REF_APPEND_REM = 3


def incremental_batch_dedup_append(
    spark, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """The INCREMENTAL-INGEST face of the durable minhash indexes (r11
    verdict #2): a crawl pipeline doesn't just PROBE the reference band
    index — every admitted drop is APPENDED into it so tomorrow's probe
    sees today's documents. Here the reference corpus's own history is
    replayed: its standing part (``doc_id % 10 ∉ {3, 7}``) was indexed
    at its ingest; yesterday's drop (``doc_id % 10 = 3``) appends its
    band signatures into the bkey-bucketed band index AND its shingle
    arrays into the doc_id-bucketed array index — two journaled
    exactly-once commits (one marker per index), each one extra file
    per touched bucket under the unchanged bucket spec. Ingest cost ∝
    the DROP (its shingles + signatures), zero corpus rework.

    Serving is byte-for-byte ``incremental_batch_dedup_disk``: today's
    incoming batch (``doc_id % 10 = 7``) probes the combined base ∪
    drop reference = the FULL reference corpus, so the same DuckDB
    oracle hash-gates the whole lifecycle."""
    from mmw_geoprocessing_spark.sources.index_store import (
        append_once,
        corpus_fingerprint,
        get_or_build_index,
    )
    from mmw_geoprocessing_spark.sources.tables import load_table

    fp = corpus_fingerprint(sf_dir, "documents")
    rem = F.col("doc_id") % INCREMENTAL_BATCH_MOD
    is_batch = rem == INCREMENTAL_BATCH_REM
    is_ref_drop = rem == REF_APPEND_REM

    def _ref_docs(drop_side: bool) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").filter(~is_batch)
        return docs.filter(is_ref_drop if drop_side else ~is_ref_drop)

    def _bands_of(drop_side: bool) -> DataFrame:
        return _band_rows(_doc_shingles(_ref_docs(drop_side)))

    def _arrays_of(drop_side: bool) -> DataFrame:
        return (
            _doc_shingles(_ref_docs(drop_side))
            .groupBy("doc_id")
            .agg(
                F.sort_array(F.collect_list("s")).alias("ss"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    # base-reference ingest (its own, earlier, drop)
    get_or_build_index(
        spark, "lsh_ref_bands_inc", fp, lambda: _bands_of(False), bucket_col="bkey"
    )
    get_or_build_index(
        spark, "lsh_ref_arrays_inc", fp, lambda: _arrays_of(False),
        bucket_col="doc_id",
    )
    # yesterday's drop: exactly-once append into BOTH indexes
    append_once(
        spark, "lsh_ref_bands_inc", fp, "drop1", lambda: _bands_of(True),
        bucket_col="bkey",
    )
    append_once(
        spark, "lsh_ref_arrays_inc", fp, "drop1", lambda: _arrays_of(True),
        bucket_col="doc_id",
    )

    def _absent() -> DataFrame:
        raise AssertionError("built above")

    ref_bands = get_or_build_index(
        spark, "lsh_ref_bands_inc", fp, _absent, bucket_col="bkey"
    )
    ref_arrays = get_or_build_index(
        spark, "lsh_ref_arrays_inc", fp, _absent, bucket_col="doc_id"
    )

    documents = load_table(spark, sf_dir, "documents")
    return probe_ref_indexes(documents, is_batch, ref_bands, ref_arrays, threshold)


def incremental_batch_dedup_append_sql(threshold: float = 0.5) -> str:
    """base ∪ appended drop == the full reference corpus -> the same
    oracle as the probe-only rows."""
    return incremental_batch_dedup_sql(threshold=threshold)


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per document: for each bit k, sum +-1 votes of the
    distinct words' 60-bit hashes; bit k is set iff the vote is positive.
    Output: ``(doc_id, simhash)``.
    """
    w = (
        documents.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .dropDuplicates(["doc_id", "w"])
        .withColumn("h", h60(F.col("w")))
    )
    votes = [
        F.sum(((F.shiftright(F.col("h"), k) % 2) * 2 - 1)).alias(f"s{k}")
        for k in range(SIMHASH_BITS)
    ]
    agg = w.groupBy("doc_id").agg(*votes)
    bit_terms = [
        F.when(F.col(f"s{k}") > 0, F.shiftleft(F.lit(1).cast("bigint"), k)).otherwise(F.lit(0).cast("bigint"))
        for k in range(SIMHASH_BITS)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return agg.select("doc_id", total.alias("simhash"))


def _simhash_sql_cte() -> str:
    from mmw_geoprocessing_spark.functions.text import H60_SQL

    h = H60_SQL.format(x="w")
    votes = ", ".join(
        f"SUM(((h >> {k}) % 2) * 2 - 1) AS s{k}" for k in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN (CAST(1 AS BIGINT) << {k}) ELSE 0 END)"
        for k in range(SIMHASH_BITS)
    )
    return (
        "wrd AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
        f"hashed AS (SELECT doc_id, {h} AS h FROM wrd), "
        f"votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id), "
        f"simhashes AS (SELECT doc_id, {bits} AS simhash FROM votes)"
    )


def simhash_fingerprints_sql() -> str:
    return f"WITH {_simhash_sql_cte()} SELECT doc_id, simhash FROM simhashes"


def simhash_neardup(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 15-bit chunk banding for candidates
    (pigeonhole: hamming<=3 over 4 chunks forces an exact chunk match),
    then bit_count(xor) verification.
    Output: ``(d1, d2, hamming)``.
    """
    sh = simhash_fingerprints(documents)
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("chunk"),
                (F.shiftright(F.col("simhash"), j * CHUNK_BITS) % (1 << CHUNK_BITS)).alias("ckey"),
            )
            for j in range(SIMHASH_CHUNKS)
        ]
    )
    chunks = sh.select("doc_id", "simhash", F.explode(chunk_structs).alias("c")).select(
        "doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ckey").alias("ckey")
    )
    return (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "ckey"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.bit_count(F.expr("x.simhash ^ y.simhash")).cast("int").alias("hamming"),
        )
        .dropDuplicates(["d1", "d2"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_neardup_sql(max_hamming: int = 3) -> str:
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS chunk, "
        f"(simhash >> {j * CHUNK_BITS}) % {1 << CHUNK_BITS} AS ckey FROM simhashes"
        for j in range(SIMHASH_CHUNKS)
    )
    return f"""
    WITH {_simhash_sql_cte()},
    chunks AS ({chunk_rows}),
    pairs AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
             CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
      FROM chunks x JOIN chunks y USING (chunk, ckey)
      WHERE x.doc_id < y.doc_id
    )
    SELECT d1, d2, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


def connected_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Connected components over an undirected pair table ``(d1, d2)``
    by iterative min-label propagation WITH pointer jumping.

    Every node starts as its own root; each round takes (1) the min of
    its root and its neighbors' roots, then (2) the root OF that root
    (pointer jumping) — so labels travel exponentially and rounds are
    O(log diameter), not O(diameter): a 1M-node chain converges in ~20
    rounds where plain propagation needs 1M. Convergence is detected by
    a changed-label count (one lightweight job per round, the
    kmeans_fit iteration shape); a graph still unconverged after
    ``max_iters`` raises rather than returning silently-wrong labels.
    Per round: one shuffle for the neighbor-min aggregate and two label
    joins over a table of |nodes| rows — no all-pairs, no driver-side
    graph. Spark 4's native recursive CTE cannot express this (it is
    UNION ALL-only, which diverges on cyclic graphs — probed), so the
    iterative plan is the engine's shape; the DuckDB oracle uses its
    UNION (distinct) recursive closure instead — two roads, one result.

    Output: ``(doc_id, component)`` — ``component`` is the minimum id
    reachable in the cluster.
    """
    edges = pairs.select("d1", "d2").unionAll(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    )  # undirected
    # localCheckpoint, NOT persist: the label table is referenced three
    # times per round (neighbor lookup, candidate, pointer jump), so a
    # persist-only loop DOUBLES the logical plan every iteration —
    # Catalyst re-analysis goes exponential and a 10-round run hangs in
    # the optimizer. Checkpointing truncates the lineage each round;
    # the tables are |nodes| rows. (On a cluster, lineage-truncating
    # checkpoints also bound scheduler/serialization cost the same way.)
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("d1").alias("doc_id")).distinct()
        .withColumn("root", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        neigh_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("d2"), F.col("root").alias("nroot")
                ),
                "d2",
            )
            .groupBy("d1")
            .agg(F.min("nroot").alias("min_n"))
            .select(F.col("d1").alias("doc_id"), "min_n")
        )
        cand = labels.join(neigh_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("root"), F.coalesce("min_n", "root")).alias("cand"),
        )
        # pointer jump: follow the candidate root to ITS root
        new_labels = (
            cand.join(
                labels.select(
                    F.col("doc_id").alias("cand"), F.col("root").alias("cand_root")
                ),
                "cand",
                "left",
            )
            .select(
                "doc_id",
                F.least(F.col("cand"), F.coalesce("cand_root", "cand")).alias("root"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.select("doc_id", F.col("root").alias("old_root")), "doc_id"
            )
            .filter(F.col("root") != F.col("old_root"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    # the returned plan reads the final checkpointed labels (tiny,
    # session-lifetime)
    return labels.select("doc_id", F.col("root").alias("component"))


def neardup_components(
    documents: DataFrame, threshold: float = 0.5, max_iters: int = 20
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph —
    the cluster table a dedup pipeline actually keys on (keep one doc
    per component; the pairwise keep-lowest rule in
    pipelines.curate_corpus under-prunes transitive chains). Near-dup
    components are near-cliques (diameter 2-4), so this converges in
    ~3 rounds; the general machinery (and its chain-graph behavior) is
    :func:`connected_components`.
    """
    pairs = minhash_lsh_neardup(documents, threshold=threshold).select("d1", "d2")
    return connected_components(pairs, max_iters=max_iters)


def neardup_components_sql(threshold: float = 0.5) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs into
    # the recursive term and re-evaluates them on EVERY closure
    # iteration — the full MinHash pipeline per round (measured at the
    # 10x replica: >30 min inlined vs ~10 s materialized, round 9).
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT d1, d2 FROM ({minhash_lsh_neardup_sql(threshold)})
    ),
    edges AS MATERIALIZED (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL
      SELECT d2, d1 FROM pairs
    ),
    reach(x, y) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.x, e.b FROM reach r JOIN edges e ON e.a = r.y
    )
    SELECT x AS doc_id, LEAST(x, MIN(y)) AS component FROM reach GROUP BY x
    """
