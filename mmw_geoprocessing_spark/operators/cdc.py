"""CDC / changelog compaction: latest-wins merge of a base snapshot
with an upsert-delete changelog (the MERGE INTO / SCD-type-1 shape).

Every large-scale ingest pipeline compacts a mutable feed this way:
``merged = base ⊕ changelog`` where per key the highest-sequence
change wins, a delete removes the key, and unseen keys insert. The
scalable plan is the classic one: union the base (as sequence 0) with
the changelog and keep the max-sequence row per key — ONE shuffle on
the key, no join at all (a join-based MERGE shuffles both sides the
same way and then still needs the dedup; the union form is strictly
cheaper and is what Delta/Iceberg compaction does under the hood).

Determinism: sequence numbers are unique per key by construction
(ROW_NUMBER tie-break on seq desc, op — a total order either way), all
payload arithmetic is exact IEEE (+100.0 on doubles), so the merged
snapshot value-hashes cross-engine.

The registered changelog is SYNTHESIZED deterministically from the
orders table itself (the same device as the PII-injection entries —
the fixture world has no mutable feed, so both engines derive the
identical changelog before merging):

- seq 1 'U' for ``o_orderkey % 7 = 3``: totalprice + 100.0
- seq 2 'U' for ``o_orderkey % 21 = 3`` (a subset — exercises
  latest-wins over seq 1): totalprice + 200.0
- seq 3 'D' for ``o_orderkey % 13 = 4`` (some keys get U then D)
- seq 1 'I' for ``o_orderkey % 17 = 5`` under a fresh key
  (``-o_orderkey``): a new order at 2x the price. Negation keeps the
  insert keyspace disjoint from real orderkeys (always >= 1) at ANY
  scale factor — a fixed additive offset collides once SF ≳ 83
  (TPC-H max o_orderkey ≈ 6M·SF) and silently turns inserts into
  latest-wins overrides of unrelated base orders.

100 TB shape: union is free, the single hash-shuffle on o_orderkey
carries base + changelog together, AQE handles key skew (unique keys →
none), and the window's per-key state is the handful of versions of
that key. Bucketed base tables make the shuffle one-sided in a real
deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAYLOAD = [
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def synth_changelog(orders: DataFrame) -> DataFrame:
    """Deterministic changelog derived from the orders table (see module
    docstring). Output: ``(o_orderkey, seq, op, <payload cols>)``.

    One corpus pass (optimization r14, guide §2.4): each order row
    emits its 0-3 applicable changelog entries via
    ``inline(array_compact(...))`` instead of four filtered re-scans of
    the table unioned together (the union form re-read the orders
    parquet four times per consumer — and the rollup's delta branches
    made that eight). Row multiset is identical to the union form, so
    every downstream oracle is unchanged."""
    k = F.col("o_orderkey")

    def _entry(cond, key, seq: int, op: str, price):
        return F.when(
            cond,
            F.struct(
                key.cast("bigint").alias("o_orderkey"),
                F.lit(seq).cast("bigint").alias("seq"),
                F.lit(op).alias("op"),
                F.col("o_custkey").alias("o_custkey"),
                F.col("o_orderstatus").alias("o_orderstatus"),
                price.alias("o_totalprice"),
                F.col("o_orderdate").alias("o_orderdate"),
                F.col("o_orderpriority").alias("o_orderpriority"),
            ),
        )

    entries = F.array(
        _entry(k % 7 == 3, k, 1, "U", F.col("o_totalprice") + F.lit(100.0)),
        _entry(k % 21 == 3, k, 2, "U", F.col("o_totalprice") + F.lit(200.0)),
        _entry(k % 13 == 4, k, 3, "D", F.col("o_totalprice")),
        _entry(k % 17 == 5, -k, 1, "I", F.col("o_totalprice") * F.lit(2.0)),
    )
    return orders.select(F.inline(F.array_compact(entries)))


def changelog_merge(base: DataFrame, changelog: DataFrame) -> DataFrame:
    """Latest-wins merge: per key, the max-``seq`` row survives unless
    it is a delete. Output: merged snapshot with ``version`` (the
    winning seq) and ``src_op``."""
    cols = ["o_orderkey", "seq", "op", *PAYLOAD]
    base_v = base.withColumn("seq", F.lit(0).cast("bigint")).withColumn(
        "op", F.lit("I")
    )
    all_rows = base_v.select(cols).unionByName(changelog.select(cols))
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("seq").desc(), F.col("op").asc()
    )
    return (
        all_rows.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "o_orderkey",
            *PAYLOAD,
            F.col("seq").alias("version"),
            F.col("op").alias("src_op"),
        )
    )


# ---------------------------------------------------------------------------
# Row-local forms of the registered (self-synthesized) changelog entries.
#
# Optimization r14 (guide §2.4 shuffle elimination / §3 join elimination):
# the registered changelog is SYNTHESIZED from the base row that carries
# the same key (``synth_changelog``), so for the *registered* entries —
# and only for them — the latest-wins winner per key is decidable from
# that single base row: D3 (k%13=4) ≻ U2 (k%21=3, a subset of U1) ≻
# U1 (k%7=3) ≻ the base version, and the inserted keys (-k) are disjoint
# from every base key at any SF. Likewise the IVM "old value" join and
# the MERGE full-outer join match each changelog row to exactly the base
# row it was derived from. The key-shuffle window / full-outer exchange /
# old-value broadcast in the generic operators exist only to re-discover
# that row-locality, so the registered entries compute the identical row
# multiset in ONE scan with ZERO joins via inline(array_compact(...)).
# The generic operators (``changelog_merge``, ``scd2_history``,
# ``incremental_rollup``, ``merge_into``) keep their shuffle/join plans
# for real feeds; equivalence of each specialization is pinned by
# tests/test_search_cdc_sessions.py::test_cdc_fused_forms_match_generic
# and by the unchanged DuckDB oracles (which still execute the joins).
# ---------------------------------------------------------------------------


def changelog_merge_orders(orders: DataFrame) -> DataFrame:
    """Registered entry ``cdc_changelog_merge``: merge orders with its
    synthesized changelog (row-local form — see block comment above)."""
    k = F.col("o_orderkey")
    price = F.col("o_totalprice")

    def _row(key, p, seq: int, op: str):
        return F.struct(
            key.cast("bigint").alias("o_orderkey"),
            F.col("o_custkey").alias("o_custkey"),
            F.col("o_orderstatus").alias("o_orderstatus"),
            p.alias("o_totalprice"),
            F.col("o_orderdate").alias("o_orderdate"),
            F.col("o_orderpriority").alias("o_orderpriority"),
            F.lit(seq).cast("bigint").alias("version"),
            F.lit(op).alias("src_op"),
        )

    # Union-of-projections form (optimization r15): the r14 fold emitted
    # the 1-2 output rows per base row through
    # ``inline(array_compact(array(struct, struct)))`` — a generator
    # that allocates two 8-field structs + an array + a compacted copy
    # per row. Measured at the sf1~ replica (interleaved, 5 reps) the
    # generator DOMINATED: fold 0.75 s vs 0.37 s for two plain filtered
    # projections unioned (the r13 join form was 0.91 s). The union is
    # still zero-Exchange (two narrow scans, full codegen, no
    # generator); row multiset is identical by construction (survivors
    # = every non-deleted base row with its winning payload; inserts =
    # the k%17 rows under the negated keyspace).
    survivors = (
        orders.filter(~(k % 13 == 4))
        .select(
            (
                F.when(k % 21 == 3, _row(k, price + F.lit(200.0), 2, "U"))
                .when(k % 7 == 3, _row(k, price + F.lit(100.0), 1, "U"))
                .otherwise(_row(k, price, 0, "I"))
            ).alias("s")
        )
        .select("s.*")
    )
    inserted = (
        orders.filter(k % 17 == 5)
        .select(_row(-k, price * F.lit(2.0), 1, "I").alias("s"))
        .select("s.*")
    )
    return survivors.unionAll(inserted)


def changelog_merge_orders_sql(table: str = "orders") -> str:
    """DuckDB twin: identical changelog synthesis + latest-wins merge."""
    pay = ", ".join(PAYLOAD)
    return f"""
    WITH changelog AS (
        SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'U' AS op,
               o_custkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 7 = 3
        UNION ALL
        SELECT o_orderkey, 2, 'U', o_custkey, o_orderstatus,
               o_totalprice + 200.0, o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 21 = 3
        UNION ALL
        SELECT o_orderkey, 3, 'D', o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 13 = 4
        UNION ALL
        SELECT -o_orderkey, 1, 'I', o_custkey, o_orderstatus,
               o_totalprice * 2.0, o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 17 = 5
    ),
    all_rows AS (
        SELECT o_orderkey, CAST(0 AS BIGINT) AS seq, 'I' AS op, {pay}
        FROM {table}
        UNION ALL
        SELECT o_orderkey, seq, op, {pay} FROM changelog
    )
    SELECT o_orderkey, {pay}, seq AS version, op AS src_op
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC, op ASC
        ) AS rn
        FROM all_rows
    )
    WHERE rn = 1 AND op <> 'D'
    """


def scd2_history(base: DataFrame, changelog: DataFrame) -> DataFrame:
    """SCD type-2: every non-delete version of a key becomes a history
    row with an effective-sequence range. ``valid_to`` is the NEXT
    change's seq (a delete closes the range too); NULL valid_to +
    ``is_current`` marks the live version.

    The plan is the same single key-shuffle as the type-1 merge — one
    window (lead over seq) instead of row_number, no join. At 100 TB
    the per-key state is the handful of versions of that key, and a
    bucketed base table makes the exchange one-sided (SCALE.md CDC
    section).
    Output: ``(o_orderkey, version, valid_to, is_current, src_op,
    o_totalprice)``.
    """
    cols = ["o_orderkey", "seq", "op", *PAYLOAD]
    base_v = base.withColumn("seq", F.lit(0).cast("bigint")).withColumn(
        "op", F.lit("I")
    )
    all_rows = base_v.select(cols).unionByName(changelog.select(cols))
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").asc(), F.col("op").asc())
    return (
        all_rows.withColumn("valid_to", F.lead("seq").over(w))
        .filter(F.col("op") != "D")
        .select(
            "o_orderkey",
            F.col("seq").alias("version"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            F.col("op").alias("src_op"),
            "o_totalprice",
        )
    )


def scd2_history_orders(orders: DataFrame) -> DataFrame:
    """Registered entry ``cdc_scd2_history``: SCD2 history of orders ⊕
    its synthesized changelog (row-local form — the per-key version
    chain 0→1→2→3 is fully determined by the base row's key, so every
    history row and its ``valid_to``/``is_current`` range closure is a
    per-row expression; see the block comment above
    ``changelog_merge_orders``)."""
    k = F.col("o_orderkey")
    price = F.col("o_totalprice")
    has_u1 = k % 7 == 3
    has_u2 = k % 21 == 3
    has_d = k % 13 == 4

    def _ver(key, seq: int, valid_to, op: str, p):
        return F.struct(
            key.cast("bigint").alias("o_orderkey"),
            F.lit(seq).cast("bigint").alias("version"),
            valid_to.cast("bigint").alias("valid_to"),
            valid_to.isNull().alias("is_current"),
            F.lit(op).alias("src_op"),
            p.alias("o_totalprice"),
        )

    # valid_to = the NEXT existing version's seq (U2 ⊆ U1 by k%21 ⊆ k%7)
    base_close = F.when(has_u1, F.lit(1)).when(has_d, F.lit(3))
    u1_close = F.when(has_u2, F.lit(2)).when(has_d, F.lit(3))
    u2_close = F.when(has_d, F.lit(3))
    # Union-of-projections form (optimization r15, same rationale and
    # measurement as ``changelog_merge_orders``): the per-version legs
    # become four filtered projections instead of an
    # ``inline(array_compact(...))`` generator — fold 0.89 s vs union
    # 0.41 s at the sf1~ replica (the r13 window form was 0.87 s).
    # Still zero-Exchange; identical row multiset.
    b0 = orders.select(_ver(k, 0, base_close, "I", price).alias("s")).select("s.*")
    b1 = (
        orders.filter(has_u1)
        .select(_ver(k, 1, u1_close, "U", price + F.lit(100.0)).alias("s"))
        .select("s.*")
    )
    b2 = (
        orders.filter(has_u2)
        .select(_ver(k, 2, u2_close, "U", price + F.lit(200.0)).alias("s"))
        .select("s.*")
    )
    b3 = (
        orders.filter(k % 17 == 5)
        .select(_ver(-k, 1, F.lit(None), "I", price * F.lit(2.0)).alias("s"))
        .select("s.*")
    )
    return b0.unionAll(b1).unionAll(b2).unionAll(b3)


def scd2_history_orders_sql(table: str = "orders") -> str:
    """DuckDB twin: identical changelog synthesis + lead() ranges."""
    pay = ", ".join(PAYLOAD)
    return f"""
    WITH changelog AS (
        SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'U' AS op,
               o_custkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 7 = 3
        UNION ALL
        SELECT o_orderkey, 2, 'U', o_custkey, o_orderstatus,
               o_totalprice + 200.0, o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 21 = 3
        UNION ALL
        SELECT o_orderkey, 3, 'D', o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 13 = 4
        UNION ALL
        SELECT -o_orderkey, 1, 'I', o_custkey, o_orderstatus,
               o_totalprice * 2.0, o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 17 = 5
    ),
    all_rows AS (
        SELECT o_orderkey, CAST(0 AS BIGINT) AS seq, 'I' AS op, {pay}
        FROM {table}
        UNION ALL
        SELECT o_orderkey, seq, op, {pay} FROM changelog
    ),
    ranged AS (
        SELECT *, lead(seq) OVER (
            PARTITION BY o_orderkey ORDER BY seq ASC, op ASC
        ) AS valid_to
        FROM all_rows
    )
    SELECT o_orderkey, seq AS version, valid_to,
           valid_to IS NULL AS is_current, op AS src_op, o_totalprice
    FROM ranged WHERE op <> 'D'
    """


def incremental_rollup(base: DataFrame, changelog: DataFrame) -> DataFrame:
    """Incremental view maintenance (IVM): keep a per-orderdate revenue
    rollup current under the changelog WITHOUT rescanning the base.

    The classic delta algebra: each changelog key contributes its OLD
    row negated and its NEW row added; the maintained view is
    ``base_rollup ⊕ delta_agg`` re-aggregated on the group key. Cost is
    O(|changelog|) — one bounded join (changelog ⋈ base, to fetch old
    values) plus a delta aggregate unioned into the rollup — vs a full
    recompute's O(|base|) rescan. At 100 TB a daily changelog is ~0.1%
    of the table: IVM turns the nightly rollup refresh from a full
    scan into a delta-sized job (this is exactly what materialized-
    view maintenance in Delta/Snowflake/Materialize does).

    Semantics per key (latest-wins, same rules as ``changelog_merge``):
    the winning change is the max-seq row; 'D' negates the old row and
    adds nothing; 'U' negates old and adds new; 'I' (fresh key) adds
    new. Money in exact BIGINT cents so the maintained view value-
    hashes against the full recompute. Output: ``(o_orderdate,
    n_orders, revenue_cents)`` — identical to recomputing over the
    merged snapshot (the oracle).
    """
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")  # noqa: E731
    base_rollup = base.groupBy("o_orderdate").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("o_totalprice")).alias("cents"),
    )
    # winning change per key (the changelog is tiny next to base)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("seq").desc(), F.col("op").asc()
    )
    winner = (
        changelog.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "op", "o_orderdate", "o_totalprice")
    )
    old = base.select(
        "o_orderkey",
        F.col("o_orderdate").alias("old_date"),
        F.col("o_totalprice").alias("old_price"),
    )
    d = winner.join(old, "o_orderkey", "left")
    # Both delta legs (negate-old, add-new) ride ONE evaluation of the
    # joined changelog via inline(array_compact(...)) — the two-branch
    # union form re-executed the whole winner-window + join lineage
    # twice (optimization r14, guide §2.4; the before plan carried 22
    # parquet scans, two windows and two broadcast joins for one
    # delta).
    negate_leg = F.when(
        F.col("old_date").isNotNull(),
        F.struct(
            F.col("old_date").alias("o_orderdate"),
            F.lit(-1).cast("bigint").alias("n"),
            (-F.round(F.col("old_price") * 100).cast("bigint")).alias("cents"),
        ),
    )
    add_leg = F.when(
        F.col("op") != "D",
        F.struct(
            F.col("o_orderdate").alias("o_orderdate"),
            F.lit(1).cast("bigint").alias("n"),
            cents("o_totalprice").alias("cents"),
        ),
    )
    delta = d.select(F.inline(F.array_compact(F.array(negate_leg, add_leg))))
    return (
        base_rollup.unionByName(delta)
        .groupBy("o_orderdate")
        .agg(F.sum("n").alias("n_orders"), F.sum("cents").alias("revenue_cents"))
        .filter(F.col("n_orders") > 0)
    )


def incremental_rollup_orders(orders: DataFrame) -> DataFrame:
    """Registered entry ``cdc_incremental_rollup``: the IVM rollup over
    orders ⊕ its synthesized changelog.

    Row-local form (see the block comment above
    ``changelog_merge_orders``): the delta algebra is kept explicit —
    each base row still contributes its base-rollup leg plus its
    negate-old / add-new / insert delta legs — but the winner window
    and the old-value join are per-row expressions here (the winning
    change and the old values both come from the same base row), so
    the whole ``base_rollup ⊕ delta`` pipeline rides ONE scan and ONE
    partial+final aggregate instead of 3 scans, 3 shuffles and a
    broadcast. The row multiset entering the final aggregate is
    identical to ``incremental_rollup(orders, synth_changelog(orders))``.
    """
    k = F.col("o_orderkey")
    d = F.col("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def _cents(p):
        return F.round(p * 100).cast("bigint")

    price = F.col("o_totalprice")
    has_winner = (k % 7 == 3) | (k % 13 == 4)  # k%21==3 ⊆ k%7==3
    # Per-row ARITHMETIC fold (optimization r15): every delta leg of a
    # base row carries the SAME o_orderdate, and the final aggregate is
    # an exact BIGINT sum — so the base / negate-old / add-new / insert
    # legs can be summed per row BEFORE the aggregate instead of being
    # emitted through an ``inline(array_compact(...))`` generator and
    # re-summed (associative+commutative integer addition: identical
    # totals, identical output). Removes the generator's per-row
    # struct/array allocation (the r14 fold measured FLAT vs the r13
    # 3-scan form at the sf1~ replica, 1.55 vs 1.66 s; this form wins
    # in the r15 A/B) and keeps ONE scan + ONE partial+final
    # aggregate. The delta algebra is unchanged, just constant-folded
    # per row.
    zero = F.lit(0).cast("bigint")
    addnew_n = (
        F.when(k % 13 == 4, zero)
        .when((k % 21 == 3) | (k % 7 == 3), F.lit(1).cast("bigint"))
        .otherwise(zero)
    )
    addnew_cents = (
        F.when(k % 13 == 4, zero)
        .when(k % 21 == 3, _cents(price + F.lit(200.0)))
        .when(k % 7 == 3, _cents(price + F.lit(100.0)))
        .otherwise(zero)
    )
    ins_n = F.when(k % 17 == 5, F.lit(1).cast("bigint")).otherwise(zero)
    ins_cents = F.when(k % 17 == 5, _cents(price * F.lit(2.0))).otherwise(zero)
    neg_n = F.when(has_winner, F.lit(-1).cast("bigint")).otherwise(zero)
    neg_cents = F.when(has_winner, -cents).otherwise(zero)
    contrib = orders.select(
        d.alias("o_orderdate"),
        (F.lit(1).cast("bigint") + neg_n + addnew_n + ins_n).alias("n"),
        (cents + neg_cents + addnew_cents + ins_cents).alias("cents"),
    )
    return (
        contrib.groupBy("o_orderdate")
        .agg(F.sum("n").alias("n_orders"), F.sum("cents").alias("revenue_cents"))
        .filter(F.col("n_orders") > 0)
    )


def incremental_rollup_orders_sql(table: str = "orders") -> str:
    """Oracle: the FULL RECOMPUTE over the merged snapshot — the view
    IVM must be indistinguishable from."""
    merged = changelog_merge_orders_sql(table)
    return f"""
    SELECT o_orderdate,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM ({merged})
    GROUP BY o_orderdate
    """


# ---------------------------------------------------------------------------
# MERGE INTO (SQL:2003 / Delta MERGE): join-based three-clause merge
# ---------------------------------------------------------------------------

def merge_into(target: DataFrame, source: DataFrame, key: str = "o_orderkey") -> DataFrame:
    """The SQL-standard MERGE in one full-outer join:

    - WHEN MATCHED AND s.op = 'D'      THEN DELETE
    - WHEN MATCHED (op 'U' or 'I')     THEN UPDATE SET * = source
    - WHEN NOT MATCHED AND s.op = 'I'  THEN INSERT *
    - unmatched target rows pass through; unmatched 'U'/'D' are no-ops

    This is the JOIN-shaped counterpart to ``changelog_merge`` (which
    is strictly cheaper — one union + one key shuffle — when the
    source carries its own sequence numbers). MERGE INTO is what you
    run when the source is a clean one-row-per-key batch and you need
    the standard three-clause semantics: the physical plan is one
    full-outer sort-merge join (both sides shuffle on the key once),
    which is exactly how Delta/Iceberg execute MERGE. Reference for
    semantics: Spark's own DeltaMergeInto / SQL:2003 14.9.
    """
    t = target.withColumn("_t", F.lit(1))
    s = source.withColumn("_s", F.lit(1))
    # disambiguate payload columns before the join
    s = s.select(
        key, "_s", "op", *[F.col(c).alias(f"_s_{c}") for c in PAYLOAD]
    )
    j = t.join(s, key, "full_outer")
    matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
    use_source = (matched & (F.col("op") != "D")) | (
        F.col("_t").isNull() & (F.col("op") == "I")
    )
    keep = F.col("_s").isNull() | use_source
    return j.filter(keep).select(
        key,
        *[
            F.when(use_source, F.col(f"_s_{c}")).otherwise(F.col(c)).alias(c)
            for c in PAYLOAD
        ],
    )


def _merge_source(orders: DataFrame) -> DataFrame:
    """Deterministic one-row-per-key MERGE batch from the orders table
    (disjoint rules from ``synth_changelog`` so the two registered
    merge shapes are independent): updates re-price ``k % 11 = 5``
    (+50.0, priority 'MERGED'), deletes drop ``k % 17 = 2`` (minus the
    update keys — one row per key), inserts add fresh negated keys
    ``-(k + 1_000_000_001)`` for ``k % 23 = 1`` (disjoint at any SF,
    and from the changelog family's ``-k`` inserts)."""
    k = F.col("o_orderkey")
    upd = (
        orders.filter(k % 11 == 5)
        .withColumn("op", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(50.0))
        .withColumn("o_orderpriority", F.lit("MERGED"))
    )
    dele = orders.filter((k % 17 == 2) & ~(k % 11 == 5)).withColumn(
        "op", F.lit("D")
    )
    ins = (
        orders.filter(k % 23 == 1)
        .withColumn("o_orderkey", -(k + F.lit(1_000_000_001)))
        .withColumn("op", F.lit("I"))
        .withColumn("o_totalprice", F.col("o_totalprice") * F.lit(3.0))
    )
    cols = ["o_orderkey", "op", *PAYLOAD]
    return upd.select(cols).unionByName(dele.select(cols)).unionByName(
        ins.select(cols)
    )


def merge_into_orders(orders: DataFrame) -> DataFrame:
    """Registered entry ``cdc_merge_into``.

    Row-local form (see the block comment above
    ``changelog_merge_orders``): the registered MERGE batch is
    ``_merge_source(orders)`` — every 'U'/'D' key exists in the target
    (derived from the target row with the same unique key) and every
    'I' key is fresh (negated keyspace), so the full-outer join matches
    each source row to exactly the target row it was derived from and
    the three WHEN clauses become per-row expressions: one scan, zero
    exchanges, instead of four scans and a two-sided key shuffle. The
    generic ``merge_into`` keeps the join for hand-fed batches;
    equivalence is pinned by
    tests/test_search_cdc_sessions.py::test_cdc_fused_forms_match_generic
    and the unchanged DuckDB oracle (which still runs the full join).
    """
    k = F.col("o_orderkey")
    price = F.col("o_totalprice")
    is_upd = k % 11 == 5
    is_del = (k % 17 == 2) & ~is_upd
    is_ins = k % 23 == 1

    def _row(key, p, priority):
        return F.struct(
            key.cast("bigint").alias("o_orderkey"),
            F.col("o_custkey").alias("o_custkey"),
            F.col("o_orderstatus").alias("o_orderstatus"),
            p.alias("o_totalprice"),
            F.col("o_orderdate").alias("o_orderdate"),
            priority.alias("o_orderpriority"),
        )

    # Union-of-projections form (optimization r15): measured at the
    # sf1~ replica the r14 ``inline(array_compact(array(...)))`` fold
    # was the one rewrite SLOWER than its r13 join shape (fold 0.54 s /
    # old 0.73 s in one window but 0.97 vs 0.64 in the scale-A/B
    # window — generator allocation per row, two structs + array +
    # compact); two plain filtered projections unioned run 0.23 s,
    # beating both, still with zero Exchanges and full codegen.
    # Identical row multiset: kept-or-updated target rows ∪ inserts.
    current = (
        orders.filter(~is_del)
        .select(
            (
                F.when(is_upd, _row(k, price + F.lit(50.0), F.lit("MERGED")))
                .otherwise(_row(k, price, F.col("o_orderpriority")))
            ).alias("s")
        )
        .select("s.*")
    )
    inserted = (
        orders.filter(is_ins)
        .select(
            _row(
                -(k + F.lit(1_000_000_001)),
                price * F.lit(3.0),
                F.col("o_orderpriority"),
            ).alias("s")
        )
        .select("s.*")
    )
    return current.unionAll(inserted)


def merge_into_orders_sql(table: str = "orders") -> str:
    pay_s = ", ".join(f"s.{c} AS _s_{c}" for c in PAYLOAD)
    pick = ",\n           ".join(
        f"CASE WHEN use_source THEN _s_{c} ELSE {c} END AS {c}"
        for c in PAYLOAD
    )
    return f"""
    WITH src AS (
        SELECT o_orderkey, 'U' AS op, o_custkey, o_orderstatus,
               o_totalprice + 50.0 AS o_totalprice, o_orderdate,
               'MERGED' AS o_orderpriority
        FROM {table} WHERE o_orderkey % 11 = 5
        UNION ALL
        SELECT o_orderkey, 'D', o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 17 = 2 AND NOT o_orderkey % 11 = 5
        UNION ALL
        SELECT -(o_orderkey + 1000000001), 'I', o_custkey, o_orderstatus,
               o_totalprice * 3.0, o_orderdate, o_orderpriority
        FROM {table} WHERE o_orderkey % 23 = 1
    ),
    j AS (
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               t.o_orderkey IS NOT NULL AS t_exists,
               s.o_orderkey IS NOT NULL AS s_exists,
               s.op, {pay_s},
               t.o_custkey, t.o_orderstatus, t.o_totalprice,
               t.o_orderdate, t.o_orderpriority
        FROM {table} t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
    ),
    flagged AS (
        SELECT *,
               (t_exists AND s_exists AND op <> 'D')
               OR (NOT t_exists AND op = 'I') AS use_source
        FROM j
    )
    SELECT o_orderkey,
           {pick}
    FROM flagged
    WHERE NOT s_exists OR use_source
    """
