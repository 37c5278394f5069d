"""Crawl-curation operators: per-domain rate capping and Bloom-filter
membership probing against an already-ingested reference corpus.

Both are standard web-corpus ingest stages (C4 / RefinedWeb style):

- ``domain_rate_cap``: keep at most ``cap`` documents per domain
  (here the ``source`` column), ranked by a deterministic quality
  proxy. Uncapped crawls are dominated by a handful of mega-domains;
  every production corpus caps them. The Spark plan is rank-then-
  filter, which Catalyst rewrites to WindowGroupLimit: each input
  partition keeps only its local top-``cap`` per domain BEFORE the
  shuffle, so the exchange carries O(domains x cap x partitions)
  rows, not the corpus — the same partial top-k shape as the
  relational top-k family.

- ``bloom_probe_dedup``: "have we already ingested this document?"
  at crawl scale. The reference corpus's content digests are folded
  into a FIXED-SIZE Bloom filter (m bits as m/60 bigint words, k
  md5-derived probes per digest); the incoming batch probes it with
  a BROADCAST join on the word index. Per-batch cost is O(batch)
  regardless of reference-corpus size — the alternative (digest
  anti-join) shuffles the full reference every batch. False
  positives are the documented price: deterministic here (md5 bit
  math), pinned by tests, and tunable via ``m_bits``.

Determinism: every hash is md5-derived (functions/text.py h28), the
bit layout is plain integer arithmetic, so BOTH operators — including
the Bloom filter's false positives — replay exactly in DuckDB.

100 TB shape: ``domain_rate_cap`` shuffles only the per-partition
survivors on the domain key (bounded by domains x cap per partition);
``bloom_probe_dedup`` broadcasts a ~2k-row word table (m_bits=2^17;
a production 10^10-key filter at the same load factor is ~12 GiB —
shard the word table by digest prefix and it stays a map-side join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.functions.text import H28_SQL, h28

# Sizing rule: for FP ≈ (1-e^(-k·n/m))^k, keep m ≳ 14·n at k=4 for
# sub-1% FP. 2^23 bits (≤140k words ≈ 1 MB broadcast) holds every test
# scale with margin: sf10's 150k reference digests fill 6.9% (FP 2e-5);
# a 2^17 filter saturated there (97% fill — measured, the round-10
# lesson). A production 10^10-digest corpus needs ~2^37 bits (~16 GiB):
# shard the word table on digest prefix (SCALE.md).
BLOOM_M_BITS = 1 << 23  # filter size in bits
BLOOM_WORD = 60  # bits per bigint word (keeps 1<<bit positive)
BLOOM_K = 4  # probes per digest
REF_MOD = 10
REF_KEEP = 3  # doc_id % 10 < 3 -> the "already ingested" reference


def domain_rate_cap(documents: DataFrame, cap: int = 10) -> DataFrame:
    """Keep at most ``cap`` docs per ``source``, preferring longer
    documents (n_chars DESC, doc_id ASC tie-break — a deterministic
    total order). Output: ``(doc_id, source, n_chars, domain_rank)``.
    """
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        documents.withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= cap)
        .select("doc_id", "source", "n_chars", "domain_rank")
    )


def domain_rate_cap_sql(cap: int = 10) -> str:
    return f"""
    SELECT doc_id, source, n_chars, CAST(domain_rank AS INT) AS domain_rank
    FROM (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS domain_rank
        FROM documents
    )
    WHERE domain_rank <= {cap}
    """


def _probe_positions(digest):
    """k bit positions for a digest: h28(digest || ':' || i) % m."""
    return [
        h28(F.concat(digest, F.lit(f":{i}"))) % BLOOM_M_BITS for i in range(BLOOM_K)
    ]


def bloom_build(reference: DataFrame) -> DataFrame:
    """Fold reference digests into the Bloom word table
    ``(word BIGINT, mask BIGINT)`` — at most m/60 rows, broadcastable.
    """
    digest = F.md5(F.col("text"))
    pos = F.explode(F.array(*_probe_positions(digest))).alias("pos")
    return (
        reference.select(pos)
        .select(
            F.floor(F.col("pos") / BLOOM_WORD).cast("bigint").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("mask"))
    )


def bloom_probe_dedup(documents: DataFrame) -> DataFrame:
    """Probe EVERY document against the Bloom filter built from the
    reference slice (doc_id % 10 < 3). A document is ``maybe_present``
    iff ALL k probed bits are set. Reference docs are guaranteed-true
    by construction (a built-in self-check); non-reference docs hit
    only on true cross-slice duplicates or Bloom false positives.
    Output: ``(doc_id, maybe_present)``.

    Plan: k BROADCAST HASH joins against the word table (one per
    probe), then a pure projection — ZERO shuffles on the probe side
    and no row inflation. Two rejected shapes, both measured at the
    100× replica: (1) explode k probe rows + re-aggregate on doc_id
    (2 exchanges, 4× inflation — 1.89× vs DuckDB); (2) fold the words
    into ONE map column and ``try_element_at`` per probe — Spark maps
    are UNSORTED ARRAYS, so each lookup is a linear scan over m/60
    entries (measured 9.6× — 5× WORSE than the explode). The hash
    relation of a broadcast join is the only O(1) lookup Spark offers;
    k small joins buy it per probe (round-10 bloom measurement).
    """
    ref = documents.filter(F.col("doc_id") % REF_MOD < REF_KEEP)
    bloom = bloom_build(ref)
    digest = F.md5(F.col("text"))
    pos = [
        h28(F.concat(digest, F.lit(f":{i}"))) % BLOOM_M_BITS
        for i in range(BLOOM_K)
    ]
    d = documents.select(
        "doc_id",
        *[F.floor(p / BLOOM_WORD).cast("bigint").alias(f"w{i}") for i, p in enumerate(pos)],
        *[(p % BLOOM_WORD).cast("int").alias(f"r{i}") for i, p in enumerate(pos)],
    )
    for i in range(BLOOM_K):
        b = bloom.select(
            F.col("word").alias(f"word{i}"), F.col("mask").alias(f"mask{i}")
        )
        d = d.join(F.broadcast(b), d[f"w{i}"] == b[f"word{i}"], "left")
    hit = " AND ".join(
        f"(coalesce(mask{i}, CAST(0 AS BIGINT)) "
        f"& shiftleft(CAST(1 AS BIGINT), r{i})) != 0"
        for i in range(BLOOM_K)
    )
    return d.select("doc_id", F.expr(hit).alias("maybe_present"))


def bloom_probe_dedup_sql() -> str:
    """DuckDB twin: identical digest, probe positions, and bit math."""
    probe = H28_SQL.format(x="md5(text) || ':' || CAST(i AS VARCHAR)")
    return f"""
    WITH ref AS (
        SELECT text FROM documents WHERE doc_id % {REF_MOD} < {REF_KEEP}
    ),
    batch AS (
        SELECT doc_id, text FROM documents
    ),
    ref_pos AS (
        SELECT ({probe}) % {BLOOM_M_BITS} AS pos
        FROM ref, (SELECT unnest(range({BLOOM_K})) AS i)
    ),
    bloom AS (
        SELECT CAST(pos // {BLOOM_WORD} AS BIGINT) AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD} AS INT)) AS mask
        FROM ref_pos GROUP BY 1
    ),
    batch_pos AS (
        SELECT doc_id, ({probe}) % {BLOOM_M_BITS} AS pos
        FROM batch, (SELECT unnest(range({BLOOM_K})) AS i)
    ),
    hits AS (
        SELECT b.doc_id,
               (COALESCE(f.mask, 0) & (CAST(1 AS BIGINT) << CAST(b.pos % {BLOOM_WORD} AS INT))) <> 0 AS hit
        FROM batch_pos b
        LEFT JOIN bloom f ON CAST(b.pos // {BLOOM_WORD} AS BIGINT) = f.word
    )
    SELECT doc_id, bool_and(hit) AS maybe_present
    FROM hits GROUP BY doc_id
    """
