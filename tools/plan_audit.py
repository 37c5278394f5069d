"""Physical-plan audit: dump key plans and check scale invariants.

Writes PLANS.md with the formatted plan per headline query plus a table
of invariant checks:
- pushdown:   parquet scans carry PushedFilters / partition pruning
- broadcast:  dimension joins use BroadcastHashJoin (not shuffle both)
- codegen:    WholeStageCodegen spans exist (JVM hot path)
- no_cartesian: no CartesianProduct/BroadcastNestedLoopJoin except where
  a theta join is intended (interval/asof candidates)
- topk:       orderBy+limit plans TakeOrderedAndProject

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    "raster_grouped_count",
    "raster_grouped_count_many",
    "raster_lines_join",
    "raster_summary",
    "mapshed_suite",
    "pricing_summary",
    "top_customers_by_revenue",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
    "window_running_total",
    "windows_showcase",
    "aggregate_variants",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "similarity_cosine_topk",
    "similarity_cosine_neardup",
    "similarity_ann_ivf_topk",
    "events_windows_showcase",
    # round-8 library operators (resolved from lib_queries())
    "similarity_ann_ivf_q8_topk",
    "text_unigram_surprisal",
    "sampling_corpus_mix",
    "text_quality_percentile_filter",
    "text_chunk_documents",
    # round-9 promotions (iterative closures excluded: their returned
    # plan is a checkpointed-label read, not the loop's work; the
    # streaming drains are gated by tools/stream_dedup_gate.py instead)
    "pipeline_curate_corpus",
    "sampling_deterministic_split",
    "sampling_pack_token_batches",
    "text_pii_redact",
    "text_normalize",
    # round-9 additions
    "search_bm25_topk",
    "cdc_changelog_merge",
    "sessionize_events",
    "search_hybrid_rrf_topk",
    "dedup_incremental_batch",
    "text_duplicate_spans",
    "text_classifier_score",
    "retention_cohorts",
    "funnel_conversion",
    "basket_pair_affinities",
    # round-10 additions
    "search_hybrid_rrf_ivf_topk",
    "search_bm25_indexed_topk",
    "text_bigram_surprisal",
    # round-10 mid-round additions (graph_pagerank excluded for the
    # same reason as the iterative closures: the returned plan reads
    # the final checkpointed rank table, not the loop's per-iteration
    # join+agg work — tests/test_graph.py pins its no-cartesian shape)
    "sampling_epoch_shuffle",
    "table_profile",
    # round-10 late additions (stream_sessionize is a drained-sink read
    # like the other streaming entries — gated by its oracle row, not a
    # plan audit; the interesting plans are the batch-side ones below)
    "curation_domain_rate_cap",
    "dedup_bloom_probe",
    "cdc_scd2_history",
    "skew_join_salted",
    "cdc_incremental_rollup",
    "source_python_ledger",
    # round-10 final: layout services — the evidence line is the scan's
    # InMemoryFileIndex holding only zone-map SURVIVORS (1 file for the
    # Q1 date box; a handful of Morton blocks for the 2-D box), plus
    # the pushed residual predicate
    "maintenance_zorder",
    "source_zonemap_prune",
    "maintenance_delete_rows",
    # MoR delete: broadcast anti-join, no scan-side shuffle;
    # MERGE INTO: ONE full-outer sort-merge join (key shuffle each side)
    "maintenance_delete_mor",
    "cdc_merge_into",
    # one-scan conditional agg; the annotate face is separately
    # plan-asserted zero-shuffle in tests/test_expectations.py
    "quality_expectations",
    # round-11 additions: durable-index serving paths (the evidence
    # lines are SelectedBucketsCount on the postings scan and
    # dynamicpruningexpression on the IVF-list scan) and the two new
    # curation operators
    "search_bm25_disk_topk",
    "search_bm25_index_append",
    "similarity_ann_ivf_disk_topk",
    "dedup_incremental_disk",
    "sampling_nucleus_topp",
    "sampling_decontaminated_mix",
    "maintenance_time_travel",
    # Q6 through the clustered layout: the scan's InMemoryFileIndex
    # holds only the zone-map survivors (~1/6 of the files)
    "tpch_q6_clustered",
    # round-12 additions: the index LIFECYCLE faces (compaction /
    # appends — evidence lines unchanged from their families:
    # SelectedBucketsCount over the rewritten generation, DPP over
    # base + appended cells), the decontamination serving twin (no
    # gram explode at serve time), and the tokenizer family (literal
    # vocab fold: no Join/Generate, <=1 Exchange)
    "search_bm25_index_compact",
    "similarity_ann_ivf_append",
    "dedup_incremental_append",
    "sampling_decontaminated_mix_disk",
    "text_bpe_token_counts",
    "sampling_corpus_mix_bpe",
    # round-12 (late): URL canonicalization (a zero-shuffle projection)
    # and canonical-URL dedup (one hash aggregation)
    "curation_url_canonicalize",
    "dedup_url_canonical",
    # round-13: perceptual image dedup — fingerprints are one
    # mapInPandas (no shuffle); the near-dup plan's evidence is the
    # (ci, cv) equi-join with NO cartesian; the append face probes the
    # bkey-bucketed index (streaming drains stay gated by their oracle
    # rows + crash tests, like the other stream entries)
    "image_phash_fingerprints",
    "dedup_image_phash",
    "dedup_image_phash_append",
    # the audio sibling: fingerprints one mapInPandas, matcher a
    # (fi, ev) equi-join with no cartesian
    "audio_energy_fingerprints",
    "dedup_audio_energy",
]

THETA_OK = {
    "interval_join_events",
    "asof_join_events_orders",
    "similarity_cosine_topk",
    # 1-row corpus-totals / threshold frames crossJoin(broadcast(...)) —
    # a BroadcastNestedLoopJoin against a single row is the intended plan
    "text_unigram_surprisal",
    "text_quality_percentile_filter",
    "search_bm25_topk",
    "funnel_conversion",  # 1-row step-1 count crossJoin(broadcast(...))
    "basket_pair_affinities",  # 1-row order-total crossJoin(broadcast(...))
    # dense leg: |registered queries| (5) broadcast rows crossJoin the
    # corpus — the same intended exact-baseline shape as
    # similarity_cosine_topk (deployment swaps in the IVF index); the
    # BM25 leg also inherits bm25's 1-row totals crossJoin
    "search_hybrid_rrf_topk",
    # IVF twin: dense leg is a broadcast HASH join on the probed cell id
    # (no corpus product) but the BM25 leg still carries bm25's 1-row
    # totals crossJoin
    "search_hybrid_rrf_ivf_topk",
    # served from persisted indexes; inherits bm25's 1-row totals crossJoin
    "search_bm25_indexed_topk",
    # served from the durable on-disk postings; same 1-row totals crossJoin
    "search_bm25_disk_topk",
    "search_bm25_index_append",
    "search_bm25_index_compact",
}


def count_shuffle_exchanges(df) -> int:
    """Executed-plan shuffle-exchange count by JVM tree walk.

    The naive ``toString().count("Exchange hashpartitioning")`` metric
    double-counts: ``InMemoryTableScan`` prints its cached relation's
    ENTIRE build plan inline, so a query that reads one persisted index
    three times re-counts the index build's exchanges three times even
    though they executed at most once (at cache population). This walk
    descends the tree that actually runs per execution: AQE final plans
    via ``executedPlan``/query-stage ``plan``, stops at
    ``InMemoryTableScan`` (a cache READ) and ``ReusedExchange``, and
    counts only shuffle exchanges (nodeName ``Exchange``), not
    broadcasts."""

    def walk(node) -> int:
        name = node.nodeName()
        if name in ("InMemoryTableScan", "ReusedExchange"):
            return 0
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if name.endswith("QueryStage"):
            return walk(node.plan())
        n = 1 if name == "Exchange" else 0
        children = node.children()
        for i in range(children.size()):
            n += walk(children.apply(i))
        return n

    return walk(df._jdf.queryExecution().executedPlan())


def main() -> int:
    import __spark_entry__ as entrymod
    from mmw_geoprocessing_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    # fresh builders on every call, so the bucketed-layout section below
    # can re-plan the same queries under a different fixture mode
    qs = entrymod.queries()
    # Audit the PRODUCTION fixture layout (bucketed pixel tables) — the
    # same mode perfbench's server runs under, so the headline table
    # describes the plans that are actually served. The checkpoint-vs-bucketed
    # comparison table below re-plans the zonal ops in both modes.
    os.environ["SPARK_GRAFT_BUCKETED_FIXTURES"] = "1"
    lines = [
        "# PLANS — physical-plan audit\n",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}` with\n"
        "`SPARK_GRAFT_BUCKETED_FIXTURES=1` (the production fixture\n"
        "layout; perfbench's server sets the same).\n",
        "Exchange counts are EXECUTED-plan shuffle exchanges by JVM tree\n"
        "walk (`count_shuffle_exchanges`): AQE-final, stopping at cache\n"
        "reads (`InMemoryTableScan` — the prior string metric re-counted a\n"
        "persisted index's build exchanges once per scan of the cache) and\n"
        "`ReusedExchange`; broadcasts are not counted. Queries with a\n"
        "session-persisted index (minhash/ngram/similarity) are measured\n"
        "WARM — the steady serving state; the index build's own exchanges\n"
        "run once at population.\n",
        "| query | broadcast | codegen | no cartesian | topk heap | exchanges |",
        "|---|---|---|---|---|---|",
    ]
    details = ["\n---\n"]
    bad = 0
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        df.collect()  # let AQE finalize the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        has_broadcast = "BroadcastHashJoin" in plan or "Join" not in plan
        # codegen'd operators print with a "*" prefix ("*(1) HashAggregate")
        has_codegen = "WholeStageCodegen" in plan or "* " in plan or "*(" in plan
        cartesian = ("CartesianProduct" in plan) or ("BroadcastNestedLoopJoin" in plan)
        no_cartesian = (not cartesian) or (name in THETA_OK)
        topk = "TakeOrderedAndProject" in plan if "top_" in name else True
        n_exchange = count_shuffle_exchanges(df)
        ok = has_codegen and no_cartesian and topk
        bad += not ok
        lines.append(
            f"| {name} | {'✓' if has_broadcast else '—'} | "
            f"{'✓' if has_codegen else '✗'} | {'✓' if no_cartesian else '✗'} | "
            f"{'✓' if topk else '✗'} | {n_exchange} |"
        )
        details.append(f"\n## {name}\n\n```\n{plan[:4000]}\n```\n")
    # Bucketed fixture layout (the production path): the zonal
    # layer joins must plan with strictly fewer exchanges than the
    # checkpointed layout — the SCALE.md contract, asserted here.
    from mmw_geoprocessing_spark.sources import fixtures as fx

    lines.append("\n## Checkpoint vs bucketed fixture layout\n")
    lines.append(
        "Executed (AQE-final) exchange counts in both modes; the bucketed\n"
        "layout must plan strictly fewer — the SCALE.md contract.\n"
    )
    lines.append("| query | exchanges (checkpoint) | exchanges (bucketed) |")
    lines.append("|---|---|---|")
    zonal_names = ("raster_grouped_count", "raster_grouped_count_many", "raster_lines_join")
    os.environ.pop("SPARK_GRAFT_BUCKETED_FIXTURES", None)
    fx.clear_fixture_cache()
    checkpoint_exchanges = {}
    try:
        for name in zonal_names:
            df = qs[name](spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            checkpoint_exchanges[name] = count_shuffle_exchanges(df)
    finally:
        os.environ["SPARK_GRAFT_BUCKETED_FIXTURES"] = "1"
        fx.clear_fixture_cache()
    try:
        for name, before in checkpoint_exchanges.items():
            df = qs[name](spark, sf_dir)
            df.collect()
            after = count_shuffle_exchanges(df)
            ok = after < before
            bad += not ok
            lines.append(f"| {name} | {before} | {after} {'✓' if ok else '✗'} |")
    finally:
        os.environ.pop("SPARK_GRAFT_BUCKETED_FIXTURES", None)
        fx.clear_fixture_cache()

    out = "\n".join(lines) + "".join(details)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out)
    print(f"PLANS.md written; {bad} invariant failures")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
