"""Corpus keyword search: BM25-ranked top-k documents per query.

The retrieval step every corpus-curation / eval pipeline needs ("find
the documents about X in the crawl"): score documents against a small
set of keyword queries with BM25 (Robertson et al., Okapi) and return
the top-k per query.

Cross-engine exactness: BM25's two non-integer ingredients are handled
the same way the rest of this engine handles transcendental /
float-fold hazards (see ``text_analysis.unigram_surprisal_scores``):

- **idf in exact integer bits.** ``idf = log2((N - df + .5)/(df + .5))``
  is replaced by ``bitlen(2N - 2df + 1) - bitlen(2df + 1)`` — the
  binary-digit-count difference, an integer within +-1 bit of the true
  log2, identical in both engines (float ``ln`` differs by ulps between
  libm and DuckDB and cannot be value-hashed).
- **tf-saturation as one exact integer division.** With k1 = 6/5 and
  b = 3/4, ``(k1+1)*tf / (tf + k1*(1 - b + b*dl/avgdl))`` multiplied
  through by ``20*T`` (T = total corpus tokens, avgdl = T/N) becomes
  ``44*tf*T / (20*T*tf + 6*T + 18*dl*N)`` — all-BIGINT numerator and
  denominator, scaled by 1000 and floor-divided (Spark ``DIV`` ==
  DuckDB ``//`` on non-negative BIGINT). Per-term scores are exact
  integers, so the per-document SUM is order-free and hash-exact.
  (Headroom: 44e3 * tf * T < 2^63 holds through the 100x replica's
  T ~ 5e7; a production deployment at larger T swaps the scaled
  integer division for a DOUBLE one — same plan, same ranking to
  within the scale quantum.)

100 TB shape: the corpus is scanned for (a) the query-term postings —
explode filtered by ``term IN (...)`` before any shuffle, with the
per-doc length riding along as a carried constant so no corpus-sized
doc-length join exists — and (b) a zero-shuffle 1-row totals aggregate
(N, total tokens), the corpus statistic a deployment persists at
ingest alongside the other PlanCache indexes. df reduces to one row
per query term and broadcasts back; the final top-k is a per-query
window over only the matched docs (WindowGroupLimit prunes to k per
partition before the shuffle). No all-pairs, no global sort, no
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.functions.plan_cache import PlanCache

# Ingest-time search indexes (postings, document frequencies, corpus
# totals), persisted once per (session, corpus) — the same PlanCache
# discipline as the minhash shingle index and the IVF inverted file.
_SEARCH_INDEX_CACHE = PlanCache()


def clear_search_index_cache() -> None:
    _SEARCH_INDEX_CACHE.clear()

# (query_id, [terms]) — fixed registered query set over the synthetic
# corpus vocabulary. Terms are lowercase single words by construction.
QUERIES: list[tuple[str, list[str]]] = [
    ("q_hash_join", ["hash", "join"]),
    ("q_sort_merge", ["sort", "merge", "join"]),
    ("q_window_scan", ["window", "filter", "scan"]),
    ("q_vector_batch", ["vector", "batch", "column"]),
    # 'dup' is the fixture corpus's one rare word (df 25/500) — the one
    # query with a strongly positive idf. The others exercise the true
    # Robertson negative-idf regime (df > N/2): scores go negative but
    # rank identically in both engines; a deployment wanting Lucene's
    # non-negative variant swaps the idf expression for
    # bitlen(2N+2) - bitlen(2df+1), same plan.
    ("q_dup_key", ["dup", "key"]),
]

SCALE = 1000
TOP_K = 10


def _query_terms_df(spark: SparkSession):
    rows = [(qid, t) for qid, terms in QUERIES for t in terms]
    return spark.createDataFrame(rows, "query_id string, term string")


def bm25_topk(
    spark: SparkSession, documents: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Top-``k`` documents per registered query, BM25-ranked.

    Output: ``(query_id, doc_id, rank, score_scaled, n_terms_matched)``
    where ``score_scaled`` is the exact-integer BM25 score (idf-bits *
    1000*tf-part, summed over matched terms) and ``rank`` orders by
    (score desc, doc_id) within each query.
    """
    qterms = _query_terms_df(spark)
    all_terms = sorted({t for _, terms in QUERIES for t in terms})

    toks = documents.select(
        F.col("doc_id"),
        F.split(F.lower(F.col("text")), " ").alias("w"),
    )
    # corpus totals: zero-shuffle 1-row aggregate, broadcast back
    totals = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("w")).alias("t_tokens"),
    )

    # postings restricted to query terms BEFORE any shuffle; the doc
    # length rides along through the explode (max() of a per-doc
    # constant) so no corpus-sized doc-length join is ever needed
    tf = (
        toks.select(
            "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
        )
        .filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    # per-term document frequency as a WINDOW over the (already
    # term-restricted, tiny) postings instead of a second aggregate
    # branch: the broadcast-subplan form re-executed the whole corpus
    # scan + explode + agg lineage to build df (guide §2.4 — the df
    # exchange moves |query-term postings| rows, the removed branch
    # re-read the corpus)
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )

    # DIV in the shared tail = exact 64-bit integer division (matches
    # DuckDB // on the non-negative operands here)
    scored = tf.join(F.broadcast(qterms), "term").crossJoin(F.broadcast(totals))
    return _score_tail(scored, k)


def _postings_index(documents: DataFrame) -> DataFrame:
    """The ingest-time inverted index ``(doc_id, term, tf, dl)`` over
    ALL terms — what a deployment builds once per corpus drop and
    serves every query from (bucketed/partitioned BY TERM on disk at
    100 TB, so a query's probe reads only its terms' buckets). Built
    and persisted once per (session, corpus)."""

    def build(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            F.col("doc_id"), F.split(F.lower(F.col("text")), " ").alias("w")
        )
        return (
            toks.select(
                "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        )

    return _SEARCH_INDEX_CACHE.get_or_persist(documents, "bm25_postings", build)


def _df_index(documents: DataFrame) -> DataFrame:
    """Per-term document frequencies, derived from the postings index
    (ingest-time sibling table; one row per vocabulary term)."""

    def build(docs: DataFrame) -> DataFrame:
        return (
            _postings_index(docs)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    return _SEARCH_INDEX_CACHE.get_or_persist(documents, "bm25_df", build)


def _totals_index(documents: DataFrame) -> DataFrame:
    """The 1-row corpus statistic (N, total tokens) a deployment
    persists at ingest alongside the postings."""

    def build(docs: DataFrame) -> DataFrame:
        toks = docs.select(F.split(F.lower(F.col("text")), " ").alias("w"))
        return toks.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("w")).alias("t_tokens"),
        )

    return _SEARCH_INDEX_CACHE.get_or_persist(documents, "bm25_totals", build)


def _score_tail(scored: DataFrame, k: int) -> DataFrame:
    """Exact-integer BM25 scoring + per-query top-k over a joined
    ``(query_id, doc_id, term, tf, dl, df, n_docs, t_tokens)`` frame.

    Built as SQL strings (optimization r14, the _cell_scores /
    join_layers lesson): the Column-by-Column form cost ~0.9 s of py4j
    round trips per fresh build on the serving path; one parsed
    projection yields the IDENTICAL expression tree (same integer
    arithmetic, same window), so results are bit-equal.
    """
    term_score = (
        "cast(length(bin(2 * n_docs - 2 * df + 1))"
        " - length(bin(2 * df + 1)) as bigint)"
        f" * (({44 * SCALE} * tf * t_tokens) DIV"
        " (20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs))"
    )
    return (
        scored.selectExpr("query_id", "doc_id", f"{term_score} AS term_score")
        .groupBy("query_id", "doc_id")
        .agg(
            F.expr("sum(term_score)").alias("score_scaled"),
            F.expr("count(1)").alias("n_terms_matched"),
        )
        .selectExpr(
            "query_id",
            "doc_id",
            "cast(row_number() over (partition by query_id"
            " order by score_scaled desc, doc_id asc) as bigint) as rank",
            "score_scaled",
            "n_terms_matched",
        )
        .filter(f"rank <= {k}")
        .select("query_id", "doc_id", "rank", "score_scaled", "n_terms_matched")
    )


def _bm25_score_topk(
    qterms: DataFrame, tf: DataFrame, df_: DataFrame, totals: DataFrame, k: int
) -> DataFrame:
    """The shared serving tail: exact-integer BM25 scoring over the
    (already term-restricted) postings + per-query top-k window. Used
    by the fresh, session-cached, and disk-served variants — one
    scoring definition, three index sources."""
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(totals))
    )
    return _score_tail(scored, k)


def bm25_indexed_topk(
    spark: SparkSession, documents: DataFrame, k: int = TOP_K
) -> DataFrame:
    """``bm25_topk`` served from the persisted ingest-time indexes —
    the deployment shape (VERDICT r10 follow-through on the bm25
    family's measured ~2x multi-stage floor: the floor is the
    per-query corpus scan + tf/df aggregation, which a search service
    pays at INGEST, not per query). Identical results to the fresh
    plan, so the same DuckDB oracle gates it; the warm probe is
    filter(query terms) over the persisted postings + two broadcast
    joins + the top-k window. The durable deployment shape — postings
    bucketed by term ON DISK, probe bucket-pruned, restart-surviving —
    is ``bm25_disk_topk`` below (round 11; this session-cached variant
    remains the in-memory serving twin)."""
    qterms = _query_terms_df(spark)
    all_terms = sorted({t for _, terms in QUERIES for t in terms})
    tf = _postings_index(documents).filter(F.col("term").isin(all_terms))
    df_ = _df_index(documents).filter(F.col("term").isin(all_terms))
    totals = _totals_index(documents)
    return _bm25_score_topk(qterms, tf, df_, totals, k)


def bm25_indexed_topk_sql(k: int = TOP_K) -> str:
    """Identical results to the fresh plan -> the same oracle."""
    return bm25_topk_sql(k=k)


def bm25_disk_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """``bm25_topk`` served from the DURABLE on-disk index (r10 verdict
    #2: the PlanCache indexes die with the session — a restarted
    service rebuilt the corpus scan; the zone-map family already
    persisted its index to parquet and this is the retrieval-family
    counterpart). At ingest the postings table ``(doc_id, term, tf,
    dl)`` is written ONCE as parquet bucketed by ``term`` (16 buckets,
    sorted, one file per bucket) beside the tiny df/totals siblings;
    any session — including a fresh process — re-attaches it via
    CLUSTERED BY DDL and serves queries with a probe that
    BUCKET-PRUNES to the query terms' buckets (the warm plan shows
    ``SelectedBucketsCount: m out of 16``). At 100 TB that is the
    declared deployment shape of ``search.py``'s postings claim, now
    exercised: probe cost ∝ matched terms' buckets, not corpus size.
    Results are identical to the fresh plan, so the same DuckDB oracle
    hash-gates it (tests/test_index_store.py also proves the
    fresh-session path end-to-end)."""
    from mmw_geoprocessing_spark.sources.index_store import (
        corpus_fingerprint,
        get_or_build_index,
    )
    from mmw_geoprocessing_spark.sources.tables import load_table

    fp = corpus_fingerprint(sf_dir, "documents")

    def _build_postings() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            F.col("doc_id"), F.split(F.lower(F.col("text")), " ").alias("w")
        )
        return (
            toks.select(
                "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        )

    postings = get_or_build_index(
        spark, "bm25_postings", fp, _build_postings, bucket_col="term"
    )

    def _build_df() -> DataFrame:
        return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    def _build_totals() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(F.split(F.lower(F.col("text")), " ").alias("w"))
        return toks.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("w")).alias("t_tokens"),
        )

    df_all = get_or_build_index(spark, "bm25_df", fp, _build_df)
    totals = get_or_build_index(spark, "bm25_totals", fp, _build_totals)

    qterms = _query_terms_df(spark)
    all_terms = sorted({t for _, terms in QUERIES for t in terms})
    tf = postings.filter(F.col("term").isin(all_terms))
    df_ = df_all.filter(F.col("term").isin(all_terms))
    return _bm25_score_topk(qterms, tf, df_, totals, k)


def bm25_disk_topk_sql(k: int = TOP_K) -> str:
    """Identical results -> the same oracle as the fresh plan."""
    return bm25_topk_sql(k=k)


#: deterministic "new crawl drop" slice for the incremental-ingest row
APPEND_MOD, APPEND_REM = 10, 3


def bm25_index_append_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """The INCREMENTAL-INGEST face of the durable bm25 index — the
    shape a daily crawl actually runs: the standing corpus
    (``doc_id % 10 != 3``) was indexed at its own ingest; today's drop
    (``doc_id % 10 = 3``) APPENDS its postings into the same
    term-bucketed table (one extra file per touched bucket, same
    bucket spec, exactly-once per drop tag via the index store's
    marker/flock commit), and the df/totals siblings are maintained by
    DELTA ALGEBRA — base ⊕ drop (a vocabulary-sized outer-join sum and
    a 1-row add), never a corpus re-aggregation. Ingest cost ∝ the
    DROP; the zonemap family's ``extend_zonemap`` is the same
    discipline on the layout side.

    Serving is byte-for-byte ``bm25_disk_topk`` over the combined
    index: probes still bucket-prune across base + appended files
    (pinned in tests/test_index_store.py), and results equal the
    full-corpus fresh plan, so ``bm25_topk``'s DuckDB oracle gates it.
    """
    from mmw_geoprocessing_spark.sources.index_store import (
        append_once,
        corpus_fingerprint,
        get_or_build_index,
    )
    from mmw_geoprocessing_spark.sources.tables import load_table

    fp = corpus_fingerprint(sf_dir, "documents")
    is_drop = (F.col("doc_id") % APPEND_MOD) == APPEND_REM

    def _postings_of(drop_side: bool) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").filter(
            is_drop if drop_side else ~is_drop
        )
        toks = docs.select(
            F.col("doc_id"), F.split(F.lower(F.col("text")), " ").alias("w")
        )
        return (
            toks.select(
                "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        )

    def _df_of(p: DataFrame) -> DataFrame:
        return p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    def _totals_of(drop_side: bool) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").filter(
            is_drop if drop_side else ~is_drop
        )
        toks = docs.select(F.split(F.lower(F.col("text")), " ").alias("w"))
        return toks.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("w")).alias("t_tokens"),
        )

    # base-corpus ingest (its own, earlier, drop)
    get_or_build_index(
        spark, "bm25_postings_inc", fp, lambda: _postings_of(False),
        bucket_col="term",
    )
    base_df = get_or_build_index(
        spark, "bm25_df_incbase", fp, lambda: _df_of(_postings_of(False))
    )
    base_tot = get_or_build_index(
        spark, "bm25_totals_incbase", fp, lambda: _totals_of(False)
    )

    # today's drop: exactly-once postings append + delta-merged siblings
    append_once(
        spark, "bm25_postings_inc", fp, "drop1", lambda: _postings_of(True),
        bucket_col="term",
    )

    def _merged_df() -> DataFrame:
        drop_df = _df_of(_postings_of(True))
        return (
            base_df.withColumnRenamed("df", "df_a")
            .join(drop_df.withColumnRenamed("df", "df_b"), "term", "full")
            .select(
                "term",
                (
                    F.coalesce(F.col("df_a"), F.lit(0))
                    + F.coalesce(F.col("df_b"), F.lit(0))
                ).alias("df"),
            )
        )

    def _merged_totals() -> DataFrame:
        t = _totals_of(True)
        return base_tot.unionByName(t).agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("t_tokens").alias("t_tokens"),
        )

    df_all = get_or_build_index(spark, "bm25_df_incfull", fp, _merged_df)
    totals = get_or_build_index(spark, "bm25_totals_incfull", fp, _merged_totals)

    # serving: identical to bm25_disk_topk over the combined state
    postings = get_or_build_index(
        spark, "bm25_postings_inc", fp,
        lambda: (_ for _ in ()).throw(AssertionError("built above")),
        bucket_col="term",
    )
    qterms = _query_terms_df(spark)
    all_terms = sorted({t for _, terms in QUERIES for t in terms})
    tf = postings.filter(F.col("term").isin(all_terms))
    df_ = df_all.filter(F.col("term").isin(all_terms))
    return _bm25_score_topk(qterms, tf, df_, totals, k)


def bm25_index_append_topk_sql(k: int = TOP_K) -> str:
    """base ∪ appended drop == the full corpus -> the same oracle."""
    return bm25_topk_sql(k=k)


def bm25_index_compact_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """The MAINTENANCE face of the durable bm25 index (r11 verdict #1):
    every ``append_once`` drop leaves one extra file per touched
    bucket, so K daily drops degrade the postings table to K+1
    files/bucket — this row runs the full lifecycle
    build → append → COMPACT → serve. ``compact_index`` rewrites the
    current generation back to one file per bucket under the same
    CLUSTERED BY spec (bucket pruning and the sort-elision property
    both survive — pinned in tests/test_index_store.py), swaps a
    ``.current`` pointer atomically, and leaves the append markers in
    place so exactly-once holds across the rewrite (a replayed
    pre-compaction drop still no-ops; new drops append into the new
    generation). Reference analogue: the layer catalog serves compacted
    tile sets (``Utils.scala:22-23``). Results are byte-identical to
    the full-corpus fresh plan, so ``bm25_topk``'s DuckDB oracle
    hash-gates the whole lifecycle."""
    from mmw_geoprocessing_spark.sources.index_store import (
        compact_index,
        corpus_fingerprint,
        get_or_build_index,
    )

    # materialize the appended state (idempotent: the store's markers
    # make re-entry a no-op), then compact it
    bm25_index_append_topk(spark, sf_dir, k)
    fp = corpus_fingerprint(sf_dir, "documents")
    compact_index(spark, "bm25_postings_inc", fp, bucket_col="term")

    def _absent() -> DataFrame:
        raise AssertionError("built by bm25_index_append_topk above")

    # serve from the compacted generation (fresh attach after the swap)
    postings = get_or_build_index(
        spark, "bm25_postings_inc", fp, _absent, bucket_col="term"
    )
    df_all = get_or_build_index(spark, "bm25_df_incfull", fp, _absent)
    totals = get_or_build_index(spark, "bm25_totals_incfull", fp, _absent)
    qterms = _query_terms_df(spark)
    all_terms = sorted({t for _, terms in QUERIES for t in terms})
    tf = postings.filter(F.col("term").isin(all_terms))
    df_ = df_all.filter(F.col("term").isin(all_terms))
    return _bm25_score_topk(qterms, tf, df_, totals, k)


def bm25_index_compact_topk_sql(k: int = TOP_K) -> str:
    """compaction is result-invariant -> the full-corpus oracle."""
    return bm25_topk_sql(k=k)


# Hybrid retrieval: each registered query carries BOTH its keyword
# terms (the BM25 leg) and a dense-query anchor — the embedding of a
# fixed corpus row (doc_id == vec_id by fixture construction), the
# "more like this document, about these words" request shape. Anchors
# are < 50 so the query set is valid from sf0.001 up.
HYBRID_ANCHORS: list[tuple[str, int]] = [
    ("q_hash_join", 3),
    ("q_sort_merge", 7),
    ("q_window_scan", 11),
    ("q_vector_batch", 19),
    ("q_dup_key", 23),
]

RRF_K = 60
N_CAND = 50


def _rrf_fuse(sparse: DataFrame, dense: DataFrame, rrf_k: int, k: int) -> DataFrame:
    """Shared RRF fusion tail: union the two (bounded, <= n_cand per
    query per leg) candidate lists, aggregate ``1/(rrf_k + rank)`` per
    (query, doc), per-query top-k.

    Shape (optimization r14, guide §2.4): the previous full-outer
    sort-merge join fused the legs with THREE shuffle exchanges — each
    leg re-partitioned by (query_id, doc_id) + sorted, then the rank
    window re-partitioned by query_id again. The union form needs AT
    MOST ONE: ``repartition(query_id)`` feeds the (query_id, doc_id)
    aggregate (hash(query_id) satisfies the subset clustering) AND the
    rank window with no further exchange — and because both legs
    already end hash(query_id)-partitioned by their own rank windows,
    Spark 4's co-partitioned-union propagation elides even that
    repartition in the executed plan (measured in round 14: Union ->
    partial+final HashAggregate -> Sort ->
    WindowGroupLimit with no Exchange; the repartition materializes
    only when the legs' partitionings diverge, e.g. under AQE
    coalescing, keeping the plan correct in every config). Safe at any
    scale — fusion input is <= 2*n_cand*|queries| rows by each leg's
    WindowGroupLimit cut.

    Bit-equality with the join form: per-leg contributions are the
    identical expression (1.0 / (rrf_k + rank) on a BIGINT rank); a
    doc present in both legs sums two finite positive doubles (IEEE
    addition is commutative bitwise), a one-leg doc's sum equals its
    single contribution (x + 0.0 == x for x > 0); ranks coalesce to
    the same 0-absent convention."""
    contrib = f"CAST(1.0 AS DOUBLE) / ({rrf_k} + leg_rank)"
    tagged = sparse.selectExpr(
        "query_id", "doc_id", "bm25_rank AS leg_rank", "true AS sparse_leg"
    ).unionAll(
        dense.selectExpr(
            "query_id", "doc_id", "cos_rank AS leg_rank", "false AS sparse_leg"
        )
    )
    return (
        tagged.repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.expr(f"sum({contrib})").alias("rrf_score"),
            F.expr(
                "coalesce(max(CASE WHEN sparse_leg THEN leg_rank END),"
                " CAST(0 AS BIGINT))"
            ).alias("bm25_rank"),
            F.expr(
                "coalesce(max(CASE WHEN NOT sparse_leg THEN leg_rank END),"
                " CAST(0 AS BIGINT))"
            ).alias("cos_rank"),
        )
        .selectExpr(
            "query_id",
            "doc_id",
            "cast(row_number() over (partition by query_id"
            " order by rrf_score desc, doc_id asc) as bigint) as rrf_rank",
            "rrf_score",
            "bm25_rank",
            "cos_rank",
        )
        .filter(f"rrf_rank <= {k}")
        .select("query_id", "doc_id", "rrf_rank", "rrf_score", "bm25_rank", "cos_rank")
    )


def hybrid_rrf_topk(
    spark: SparkSession,
    documents: DataFrame,
    embeddings: DataFrame,
    n_cand: int = N_CAND,
    k: int = TOP_K,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank-fusion top-``k``: BM25 keyword ranking fused with
    embedding-cosine ranking per registered query (Cormack et al., the
    standard hybrid-retrieval combiner).

    ``rrf_score = 1/(rrf_k + bm25_rank) + 1/(rrf_k + cos_rank)`` over
    each leg's top-``n_cand`` candidates; a doc absent from a leg
    contributes 0 from that leg (its rank column reads 0 — ranks are
    1-based, so 0 is unambiguous and keeps the column non-null BIGINT
    on both engines). Cross-engine exactness: ranks on both legs are
    already hash-exact (integer BM25 scores; order-deterministic fold
    cosine), and the score is two correctly-rounded IEEE divisions of
    exact small integers added in a fixed order — bit-identical in
    Spark and DuckDB.

    100 TB shape: both legs produce BOUNDED per-query candidate lists
    (WindowGroupLimit before the per-query exchange); the fusion join
    touches <= 2 * n_cand * |queries| rows — broadcast-trivial no
    matter the corpus size. The corpus-scale work is entirely inside
    the legs, which keep their own scale paths (BM25 postings prune at
    the explode; the dense leg here is the exact brute-force baseline —
    a deployment swaps in the IVF index (``similarity.ann_ivf_topk``)
    for the same (query_id, doc_id, rank) contract).

    Output: ``(query_id, doc_id, rrf_rank, rrf_score, bm25_rank,
    cos_rank)``.
    """
    from mmw_geoprocessing_spark.operators.similarity import (
        _as_double_expr,
        _dot_expr,
        _norm_expr,
    )

    # sparse leg served from the session postings/totals indexes (the
    # ingest-time warm-index basis every LLM bench row uses since r9;
    # bm25_topk stays the registered fresh-plan baseline row). Results
    # are identical — bm25_indexed_topk passes the same oracle.
    sparse = (
        bm25_indexed_topk(spark, documents, k=n_cand)
        .select("query_id", "doc_id", F.col("rank").alias("bm25_rank"))
    )

    # dense leg + fusion as parsed SQL strings (optimization r14): the
    # Column/HOF-lambda form cost ~1 s of py4j round trips per fresh
    # build; identical expression trees (same fold order), bit-equal.
    anchors = spark.createDataFrame(
        HYBRID_ANCHORS, "query_id string, anchor_id bigint"
    )
    q = (
        F.broadcast(anchors)
        .join(embeddings, F.col("anchor_id") == F.col("vec_id"))
        .selectExpr("query_id", f"{_as_double_expr('embedding')} AS qv")
        .selectExpr("query_id", "qv", f"{_norm_expr('qv')} AS nq")
    )
    c = embeddings.selectExpr(
        "vec_id AS doc_id", f"{_as_double_expr('embedding')} AS cv"
    ).selectExpr("doc_id", "cv", f"{_norm_expr('cv')} AS nc")
    dense = (
        F.broadcast(q)
        .crossJoin(c)
        .selectExpr(
            "query_id",
            "doc_id",
            f"({_dot_expr('qv', 'cv')}) / (nq * nc) AS cosine",
        )
        .selectExpr(
            "query_id",
            "doc_id",
            "cast(row_number() over (partition by query_id"
            " order by cosine desc, doc_id asc) as bigint) as cos_rank",
        )
        .filter(f"cos_rank <= {n_cand}")
        .select("query_id", "doc_id", "cos_rank")
    )
    return _rrf_fuse(sparse, dense, rrf_k, k)


def hybrid_rrf_topk_sql(
    n_cand: int = N_CAND, k: int = TOP_K, rrf_k: int = RRF_K
) -> str:
    """DuckDB twin: the BM25 leg is the verbatim ``bm25_topk_sql``
    statement as a subquery, the dense leg the fold-exact cosine, fused
    with the identical fixed-order double arithmetic."""
    from mmw_geoprocessing_spark.operators.similarity import _cos_sql

    avals = ", ".join(f"('{qid}', {aid})" for qid, aid in HYBRID_ANCHORS)
    cos = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH sparse AS (
        SELECT query_id, doc_id, rank AS bm25_rank
        FROM ({bm25_topk_sql(k=n_cand)})
    ),
    anchors(query_id, anchor_id) AS (VALUES {avals}),
    q AS (
        SELECT query_id, embedding::DOUBLE[] AS qv
        FROM anchors JOIN embeddings ON vec_id = anchor_id
    ),
    dense AS (
        SELECT query_id, doc_id, cos_rank FROM (
            SELECT q.query_id, c.doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q.query_id ORDER BY {cos} DESC, c.doc_id
                   ) AS BIGINT) AS cos_rank
            FROM q CROSS JOIN (
                SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv FROM embeddings
            ) c
        ) WHERE cos_rank <= {n_cand}
    ),
    fused AS (
        SELECT query_id, doc_id,
               COALESCE(1.0::DOUBLE / ({rrf_k} + bm25_rank), 0.0::DOUBLE)
               + COALESCE(1.0::DOUBLE / ({rrf_k} + cos_rank), 0.0::DOUBLE)
               AS rrf_score,
               CAST(COALESCE(bm25_rank, 0) AS BIGINT) AS bm25_rank,
               CAST(COALESCE(cos_rank, 0) AS BIGINT) AS cos_rank
        FROM sparse FULL JOIN dense USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, rrf_rank, rrf_score, bm25_rank, cos_rank
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
        ) AS BIGINT) AS rrf_rank
        FROM fused
    )
    WHERE rrf_rank <= {k}
    """


def hybrid_rrf_ivf_topk(
    spark: SparkSession,
    documents: DataFrame,
    embeddings: DataFrame,
    n_cand: int = N_CAND,
    k: int = TOP_K,
    rrf_k: int = RRF_K,
    nprobe: int | None = None,
) -> DataFrame:
    """The SCALE twin of ``hybrid_rrf_topk`` (r9 verdict #3): identical
    fusion contract, but the dense leg probes the persisted IVF index
    (``similarity._ivf_index``) instead of brute-forcing the corpus.

    The exact variant's dense leg broadcasts the 5 query anchors and
    crossJoins the FULL embeddings table — O(corpus x |queries|) compute
    per retrieval call; at 100 TB that is a full-corpus scan to answer 5
    queries. Here each anchor probes its ``nprobe`` nearest coarse cells
    and candidates come from ONE equi-join on the cell id against the
    ingest-time inverted file — compute ∝ probed-cell population
    (nprobe/N_CELLS of the corpus; at deployment cell counts, ~nprobe/
    sqrt(N)), with the same bounded WindowGroupLimit per-query top-k.
    Recall vs the exact leg is pinned in tests/test_search_cdc_sessions
    (the ``cosine_neardup_wide`` pattern).

    Output contract is identical: ``(query_id, doc_id, rrf_rank,
    rrf_score, bm25_rank, cos_rank)`` — cos_rank now the IVF leg's rank.
    """
    from mmw_geoprocessing_spark.operators.similarity import (
        NPROBE,
        _as_double_expr,
        _cell_topn,
        _centroids,
        _dot_expr,
        _ivf_index,
        _norm_expr,
    )

    if nprobe is None:
        nprobe = NPROBE
    # sparse leg from the session postings index (see hybrid_rrf_topk)
    sparse = (
        bm25_indexed_topk(spark, documents, k=n_cand)
        .select("query_id", "doc_id", F.col("rank").alias("bm25_rank"))
    )

    cents = _centroids(embeddings)
    inv = _ivf_index(embeddings)  # (vec_id, v, nv, cell) — built at ingest
    anchors = spark.createDataFrame(
        HYBRID_ANCHORS, "query_id string, anchor_id bigint"
    )
    # probe + fusion as parsed SQL strings (see hybrid_rrf_topk note)
    q = (
        F.broadcast(anchors)
        .join(embeddings, F.col("anchor_id") == F.col("vec_id"))
        .selectExpr("query_id", f"{_as_double_expr('embedding')} AS v")
        .selectExpr("query_id", "v", f"{_norm_expr('v')} AS nq")
        .select(
            "query_id",
            F.col("v").alias("qv"),
            "nq",
            F.explode(_cell_topn("v", cents, nprobe)).alias("cell"),
        )
    )
    dense = (
        F.broadcast(q)
        .join(inv, "cell")  # probed cells are disjoint — no dedup needed
        .selectExpr(
            "query_id",
            "vec_id AS doc_id",
            f"({_dot_expr('qv', 'v')}) / (nq * nv) AS cosine",
        )
        .selectExpr(
            "query_id",
            "doc_id",
            "cast(row_number() over (partition by query_id"
            " order by cosine desc, doc_id asc) as bigint) as cos_rank",
        )
        .filter(f"cos_rank <= {n_cand}")
        .select("query_id", "doc_id", "cos_rank")
    )
    return _rrf_fuse(sparse, dense, rrf_k, k)


def hybrid_rrf_ivf_topk_sql(
    n_cand: int = N_CAND,
    k: int = TOP_K,
    rrf_k: int = RRF_K,
    nprobe: int | None = None,
) -> str:
    """DuckDB twin: the BM25 leg verbatim; the dense leg replays the
    same fixed quantizer (first N_CELLS vectors), argmax cell
    assignment, and nprobe multi-probe as ``ann_ivf_topk_sql``."""
    from mmw_geoprocessing_spark.operators.similarity import (
        N_CELLS,
        NPROBE,
        _cos_sql,
    )

    if nprobe is None:
        nprobe = NPROBE
    avals = ", ".join(f"('{qid}', {aid})" for qid, aid in HYBRID_ANCHORS)
    ccos = _cos_sql("b.v", "c.cv")
    qcos = _cos_sql("q.qv", "w2.v")
    return f"""
    WITH sparse AS (
        SELECT query_id, doc_id, rank AS bm25_rank
        FROM ({bm25_topk_sql(k=n_cand)})
    ),
    cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id < {N_CELLS}),
    base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT b.vec_id, b.v, c.cid, {ccos} AS ccos,
             ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                ORDER BY {ccos} DESC, c.cid) AS rn
      FROM base b CROSS JOIN cents c
    ),
    with_cell AS (SELECT vec_id, v, cid AS cell FROM scored WHERE rn = 1),
    anchors(query_id, anchor_id) AS (VALUES {avals}),
    qprobe AS (
      SELECT a.query_id, s.v AS qv, s.cid AS cell
      FROM anchors a JOIN scored s ON s.vec_id = a.anchor_id
      WHERE s.rn <= {nprobe}
    ),
    dense AS (
        SELECT query_id, doc_id, cos_rank FROM (
            SELECT q.query_id, w2.vec_id AS doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q.query_id ORDER BY {qcos} DESC, w2.vec_id
                   ) AS BIGINT) AS cos_rank
            FROM qprobe q JOIN with_cell w2 USING (cell)
        ) WHERE cos_rank <= {n_cand}
    ),
    fused AS (
        SELECT query_id, doc_id,
               COALESCE(1.0::DOUBLE / ({rrf_k} + bm25_rank), 0.0::DOUBLE)
               + COALESCE(1.0::DOUBLE / ({rrf_k} + cos_rank), 0.0::DOUBLE)
               AS rrf_score,
               CAST(COALESCE(bm25_rank, 0) AS BIGINT) AS bm25_rank,
               CAST(COALESCE(cos_rank, 0) AS BIGINT) AS cos_rank
        FROM sparse FULL JOIN dense USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, rrf_rank, rrf_score, bm25_rank, cos_rank
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
        ) AS BIGINT) AS rrf_rank
        FROM fused
    )
    WHERE rrf_rank <= {k}
    """


def bm25_topk_sql(k: int = TOP_K, table: str = "documents") -> str:
    """DuckDB twin: identical tokenization, integer-bits idf, scaled
    integer tf-part, per-query ROW_NUMBER top-k."""
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in QUERIES for t in terms
    )
    all_terms = sorted({t for _, terms in QUERIES for t in terms})
    inlist = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
    WITH q(query_id, term) AS (VALUES {qvals}),
    dw AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM {table}),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM dw),
    totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS t_tokens
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(w) AS term FROM dw)
        WHERE term IN ({inlist})
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               (length(bin(2 * n_docs - 2 * df.df + 1))
                - length(bin(2 * df.df + 1)))
               * ((44 * {SCALE} * tf.tf * t_tokens)
                  // (20 * t_tokens * tf.tf + 6 * t_tokens
                      + 18 * dl.dl * n_docs)) AS term_score
        FROM tf
        JOIN q USING (term) JOIN df USING (term) JOIN dl USING (doc_id)
        CROSS JOIN totals
    ),
    doc_scores AS (
        SELECT query_id, doc_id,
               CAST(SUM(term_score) AS BIGINT) AS score_scaled,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched
        FROM scored GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, rank, score_scaled, n_terms_matched
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score_scaled DESC, doc_id
        ) AS BIGINT) AS rank
        FROM doc_scores
    )
    WHERE rank <= {k}
    """
