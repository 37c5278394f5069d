"""Query registry: every operator as a Spark plan with a DuckDB twin.

``entry(spark)`` — flagship zonal histogram (RasterGroupedCount) at sf0.001.
``queries()`` — one ``(spark, sf_dir) -> DataFrame`` builder per
implemented query/operator (SURVEY.md §2).
``oracle_sql()`` — the DuckDB-equivalent SQL under the same key.
``lib_queries()`` / ``lib_oracle_sql()`` — the library-operator group,
merged into both.

Column names are aliased identically on both sides (the compare sorts
columns by name before hashing). ``tools/selfcheck.py`` runs each pair;
``tests/test_golden.py`` and ``tools/make_goldens.py`` build from the
registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mmw_geoprocessing_spark import oracle
from mmw_geoprocessing_spark.operators import cdc
from mmw_geoprocessing_spark.operators import curation as cu
from mmw_geoprocessing_spark.operators import dedup as dd
from mmw_geoprocessing_spark.operators import expectations as ex
from mmw_geoprocessing_spark.operators import graph as gr
from mmw_geoprocessing_spark.operators import audio_dedup as aud
from mmw_geoprocessing_spark.operators import image_dedup as imd
from mmw_geoprocessing_spark.operators import multimodal as mm
from mmw_geoprocessing_spark.operators import pipelines as pl
from mmw_geoprocessing_spark.operators import video_dedup as vid
from mmw_geoprocessing_spark.operators import profile as prof
from mmw_geoprocessing_spark.operators import relational as rel
from mmw_geoprocessing_spark.operators import relational_ext as rex
from mmw_geoprocessing_spark.operators import sampling as samp
from mmw_geoprocessing_spark.operators import search as se
from mmw_geoprocessing_spark.operators import similarity as sim
from mmw_geoprocessing_spark.operators import skew as sk
from mmw_geoprocessing_spark.operators import tokenize as tok
from mmw_geoprocessing_spark.operators import urls
from mmw_geoprocessing_spark.operators import text_analysis as ta
from mmw_geoprocessing_spark.operators import zonal
from mmw_geoprocessing_spark.sources import fixtures as fx
from mmw_geoprocessing_spark.sources import maintenance as maint
from mmw_geoprocessing_spark.sources import pysource as psrc
from mmw_geoprocessing_spark.sources.tables import load_tables, register_views
from mmw_geoprocessing_spark.streaming import cdc as scdc
from mmw_geoprocessing_spark.streaming import windows as sw
from mmw_geoprocessing_spark.streaming import index_ingest as si


def _t(spark: SparkSession, sf_dir: str):
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (dedup / similarity / text analysis /
# multimodal) over the documents and embeddings tables.
# ---------------------------------------------------------------------------

_LLM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": lambda s, d: dd.exact_dedup(_t(s, d)["documents"]),
    "dedup_ngram_jaccard": lambda s, d: dd.ngram_jaccard_pairs(_t(s, d)["documents"]),
    "dedup_minhash_lsh": lambda s, d: dd.minhash_lsh_neardup(_t(s, d)["documents"]),
    "dedup_simhash_neardup": lambda s, d: dd.simhash_neardup(_t(s, d)["documents"]),
    "similarity_cosine_topk": lambda s, d: sim.cosine_topk(_t(s, d)["embeddings"]),
    # registered plan is the banded-LSH candidate-then-verify shape (the
    # scale path); the exact all-pairs cosine_neardup stays as the lib
    # oracle baseline (tests assert subset + recall)
    "similarity_cosine_neardup": lambda s, d: sim.cosine_neardup_lsh(_t(s, d)["embeddings"]),
    "similarity_ann_lsh_topk": lambda s, d: sim.ann_lsh_topk(_t(s, d)["embeddings"]),
    "similarity_ann_ivf_topk": lambda s, d: sim.ann_ivf_topk(_t(s, d)["embeddings"]),
    # round 11: IVF lists served from the durable partitioned-by-cell
    # on-disk index; probe = dynamic partition pruning (r10 verdict #2)
    "similarity_ann_ivf_disk_topk": lambda s, d: sim.ann_ivf_disk_topk(s, d),
    # round 12: the append face — today's embedding drop assigned against
    # the frozen quantizer and journaled exactly-once into the
    # cell-partitioned lists (r11 verdict #2)
    "similarity_ann_ivf_append": lambda s, d: sim.ann_ivf_append_topk(s, d),
    "text_token_counts": lambda s, d: ta.token_counts(_t(s, d)["documents"]),
    # round 12 (r11 verdict #7): tokenizer-fidelity subword counting —
    # corpus-trained top-K piece vocab (one rank pass, both engines),
    # greedy longest-match encode as a JVM aggregate fold (zero shuffle)
    "text_bpe_token_counts": lambda s, d: tok.bpe_token_counts(
        _t(s, d)["documents"]
    ),
    # the budget-realism consumer: corpus_mix denominated in subword
    # tokens instead of the whitespace stand-in
    "sampling_corpus_mix_bpe": lambda s, d: tok.corpus_mix_bpe(
        _t(s, d)["documents"]
    ),
    # round 12 (r11 verdict #7b): URL canonicalization + canonical-URL
    # dedup, the C4/RefinedWeb crawl pre-stage (synthetic raw URLs via
    # the deterministic-injection convention; every normalization rule
    # — case, www, :443, trailing slash, tracking params, param order,
    # fragments — is exercised by the hash gate)
    "curation_url_canonicalize": lambda s, d: urls.url_canonicalize(
        urls.with_raw_url(_t(s, d)["documents"])
    ),
    "dedup_url_canonical": lambda s, d: urls.dedup_url_canonical(
        urls.with_raw_url(_t(s, d)["documents"])
    ),
    "text_quality_scores": lambda s, d: ta.quality_scores(_t(s, d)["documents"]),
    "text_lang_id": lambda s, d: ta.lang_id(_t(s, d)["documents"]),
    "text_fingerprints": lambda s, d: ta.fingerprints(_t(s, d)["documents"]),
    "multimodal_decode_stub": lambda s, d: mm.decode_stub(mm.attach_binary(_t(s, d)["documents"])),
    # round 13 (r12 verdict #5): perceptual image dedup — deterministic
    # grey PNGs synthesized per document, REAL encode->decode through
    # the pure-Python codec inside Arrow batches, dHash/aHash packed as
    # four 16-bit chunks, Hamming-banded near-dup (never all-pairs);
    # the oracle replays the closed-form pixels (PNG is lossless)
    "image_phash_fingerprints": lambda s, d: imd.image_phash_fingerprints(_t(s, d)["documents"]),
    "dedup_image_phash": lambda s, d: imd.dedup_image_phash(_t(s, d)["documents"]),
    # the family's durable-index lifecycle face: base ingest ->
    # exactly-once drop append -> batch probe (fingerprints are 8
    # bytes, so the band index IS the verification index)
    "dedup_image_phash_append": imd.image_phash_incremental_append,
    # the audio-modality sibling (round 13): frame-energy fingerprints
    # through the REAL stdlib WAV codec, shared-frame near-dup matching
    "audio_energy_fingerprints": lambda s, d: aud.audio_energy_fingerprints(_t(s, d)["documents"]),
    "dedup_audio_energy": lambda s, d: aud.dedup_audio_energy(_t(s, d)["documents"]),
    "multimodal_frame_sample": lambda s, d: mm.frame_sample(mm.attach_binary(_t(s, d)["documents"])),
    # the video-modality sibling (round 14, r13 verdict #7):
    # length-prefixed clip containers of REAL PNG keyframes, per-frame
    # dHash through the real codec, doc-level shared-fingerprint match
    # (the audio matcher's one-shuffle bucket enumeration + the image
    # family's hot-bucket cap; 10x linearity test shipped first)
    "video_keyframe_fingerprints": lambda s, d: vid.video_keyframe_fingerprints(_t(s, d)["documents"]),
    "dedup_video_keyframe": lambda s, d: vid.dedup_video_keyframe(_t(s, d)["documents"]),
}

_LLM_ORACLES: dict[str, str] = {
    "dedup_exact": dd.exact_dedup_sql(),
    "dedup_ngram_jaccard": dd.ngram_jaccard_pairs_sql(),
    "dedup_minhash_lsh": dd.minhash_lsh_neardup_sql(),
    "dedup_simhash_neardup": dd.simhash_neardup_sql(),
    "similarity_cosine_topk": sim.cosine_topk_sql(),
    "similarity_cosine_neardup": sim.cosine_neardup_lsh_sql(),
    "similarity_ann_lsh_topk": sim.ann_lsh_topk_sql(),
    "similarity_ann_ivf_topk": sim.ann_ivf_topk_sql(),
    "similarity_ann_ivf_disk_topk": sim.ann_ivf_disk_topk_sql(),
    "similarity_ann_ivf_append": sim.ann_ivf_append_topk_sql(),
    "text_token_counts": ta.token_counts_sql(),
    "text_bpe_token_counts": tok.bpe_token_counts_sql(),
    "sampling_corpus_mix_bpe": tok.corpus_mix_bpe_sql(),
    "curation_url_canonicalize": urls.url_canonicalize_sql(),
    "dedup_url_canonical": urls.dedup_url_canonical_sql(),
    "text_quality_scores": ta.quality_scores_sql(),
    "text_lang_id": ta.lang_id_sql(),
    "text_fingerprints": ta.fingerprints_sql(),
    "multimodal_decode_stub": mm.decode_stub_sql(),
    "image_phash_fingerprints": imd.image_phash_fingerprints_sql(),
    "dedup_image_phash": imd.dedup_image_phash_sql(),
    "dedup_image_phash_append": imd.image_phash_incremental_append_sql(),
    "audio_energy_fingerprints": aud.audio_energy_fingerprints_sql(),
    "dedup_audio_energy": aud.dedup_audio_energy_sql(),
    "multimodal_frame_sample": mm.frame_sample_sql(),
    "video_keyframe_fingerprints": vid.video_keyframe_fingerprints_sql(),
    "dedup_video_keyframe": vid.dedup_video_keyframe_sql(),
}


# ---------------------------------------------------------------------------
# Event-time windowing (streaming semantics, batch-checkable): all three
# window shapes (tumbling / sliding / session) in one aligned union.
# ---------------------------------------------------------------------------

_STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "events_windows_showcase": lambda s, d: sw.windows_showcase(_t(s, d)["events"]),
    # round 9: the stateful streaming dedup operators, driver-gated with
    # FULL SQL oracles — the drained availableNow survivor set over the
    # deterministic at-least-once replay source has a closed-form batch
    # twin over the original events table (streaming/windows.py)
    "stream_exact_dedup": sw.stream_exact_dedup_batch,
    "stream_content_dedup": sw.stream_content_dedup_batch,
    # streaming CDC upsert: foreachBatch incremental latest-wins
    # compaction drained over a chunked changelog replay; same
    # closed-form oracle as the batch merge
    "stream_cdc_merge": scdc.stream_cdc_merge_batch,
    # round 10: the bucketed-state deployment shape — each micro-batch
    # merges/rewrites only the key buckets it touches (per-batch I/O ∝
    # touched buckets, not full state); identical final table + oracle
    "stream_cdc_merge_bucketed": scdc.stream_cdc_merge_bucketed_batch,
    # round 10: stream-stream interval join (view→purchase attribution)
    # over the time-ordered exactly-once replay — the two-input
    # stateful streaming operator, with the batch self-join as its
    # closed-form oracle
    "stream_interval_join": sw.stream_interval_join_batch,
    # round 10: stream-static broadcast enrichment + watermarked daily
    # rollup, append-mode; the flush-sentinel (watermark heartbeat)
    # makes the drained sink equal the batch join+rollup
    "stream_static_enrich": sw.stream_static_enrich_batch,
}

_STREAM_ORACLES: dict[str, str] = {
    "events_windows_showcase": sw.windows_showcase_sql(),
    "stream_exact_dedup": sw.stream_exact_dedup_batch_sql(),
    "stream_content_dedup": sw.stream_content_dedup_batch_sql(),
    "stream_cdc_merge": scdc.stream_cdc_merge_batch_sql(),
    "stream_cdc_merge_bucketed": scdc.stream_cdc_merge_bucketed_batch_sql(),
    "stream_interval_join": sw.stream_interval_join_batch_sql(),
    "stream_static_enrich": sw.stream_static_enrich_batch_sql(),
}


# ---------------------------------------------------------------------------
# Zonal fixture wiring: the reference's public operator surface
# (reference scripts/benchmark-mapshed:25-107) on deterministic fixtures.
# ---------------------------------------------------------------------------


def _prep(spark: SparkSession, sf_dir: str) -> None:
    register_views(spark, sf_dir)


def _q_grouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    layers = [fx.raster_df(spark, r) for r in ("nlcd", "soil")]
    return zonal.raster_grouped_count(layers, fx.mask_df(spark, "huc8_01"))


def _q_grouped_count_nodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gwn is missing tile columns -> exercises the full-outer NODATA fill
    # (reference Utils.scala:221-232, CHANGELOG.md:51-64)
    _prep(spark, sf_dir)
    layers = [fx.raster_df(spark, r) for r in ("nlcd", "gwn")]
    return zonal.raster_grouped_count(layers, fx.mask_df(spark, "huc8_01"))


def _q_grouped_count_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    layers = [fx.raster_df(spark, r) for r in ("nlcd", "soil")]
    return zonal.raster_grouped_count_many(layers, fx.mask_all_df(spark))


def _q_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    return zonal.raster_average(fx.raster_df(spark, "slope"), fx.mask_df(spark, "huc8_01"))


def _q_grouped_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    return zonal.raster_grouped_average(
        [fx.raster_df(spark, "nlcd")], fx.raster_df(spark, "slope"), fx.mask_df(spark, "huc8_01")
    )


def _q_grouped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    return zonal.raster_grouped_sum(
        [fx.raster_df(spark, "nlcd")], fx.raster_df(spark, "awc"), fx.mask_df(spark, "huc8_01")
    )


def _q_lines_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    layers = [fx.raster_df(spark, r) for r in ("nlcd", "soil")]
    return zonal.raster_lines_join(layers, fx.line_pixels_df(spark), fx.mask_df(spark, "huc8_01"))


def _q_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    targets = [fx.raster_df(spark, r) for r in ("slope", "awc", "kfactor")]
    return zonal.raster_summary(targets, fx.mask_df(spark, "huc8_01"))


def _q_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark, sf_dir)
    nlcd, soil = fx.raster_df(spark, "nlcd"), fx.raster_df(spark, "soil")
    slope, awc = fx.raster_df(spark, "slope"), fx.raster_df(spark, "awc")
    mask8 = fx.mask_df(spark, "huc8_01")
    # O7 MultiOperation (Geoprocessing.scala:21-89): one UNION over the
    # shared layer DataFrames, values as DOUBLE (the /multi result type);
    # a grouped count over the many-AOI mask labels its rows per AOI
    counts = zonal.raster_grouped_count_many([nlcd, soil], fx.mask_all_df(spark))
    grouped = zonal.raster_grouped_average([nlcd], slope, mask8)
    return (
        counts.selectExpr(
            "concat('nlcd_soil:', aoi_id) AS op_label", "list_key", "CAST(cnt AS DOUBLE) AS value"
        )
        .unionAll(grouped.selectExpr("'nlcd_slope' AS op_label", "list_key", "avg_value AS value"))
        .unionAll(
            zonal.raster_average(awc, mask8).selectExpr(
                "'avg_awc' AS op_label", "list_key", "avg_value AS value"
            )
        )
    )


def _q_mapshed_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's full 7-template benchmark workload over HUC-8 +
    # 8 HUC-12 subbasins in ONE pass (scripts/benchmark-mapshed:25-107,
    # scripts/benchmark-subbasin:110-121)
    from mmw_geoprocessing_spark.operators.mapshed import mapshed_suite

    _prep(spark, sf_dir)
    return mapshed_suite(spark)


_ZONAL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "mapshed_suite": _q_mapshed_suite,
    "raster_grouped_count": _q_grouped_count,
    "raster_grouped_count_nodata": _q_grouped_count_nodata,
    "raster_grouped_count_many": _q_grouped_count_many,
    "raster_average": _q_average,
    "raster_grouped_average": _q_grouped_average,
    "raster_grouped_sum": _q_grouped_sum,
    "raster_lines_join": _q_lines_join,
    "raster_summary": _q_summary,
    "multi_operation": _q_multi,
}


def _mapshed_oracle() -> str:
    from mmw_geoprocessing_spark.operators.mapshed import MAPSHED_AOIS

    return oracle.mapshed_suite(MAPSHED_AOIS)


_ZONAL_ORACLES: dict[str, str] = {
    "mapshed_suite": _mapshed_oracle(),
    "raster_grouped_count": oracle.grouped_count(["nlcd", "soil"], "huc8_01"),
    "raster_grouped_count_nodata": oracle.grouped_count(["nlcd", "gwn"], "huc8_01"),
    "raster_grouped_count_many": oracle.grouped_count_many(["nlcd", "soil"]),
    "raster_average": oracle.average("slope", "huc8_01"),
    "raster_grouped_average": oracle.grouped_average(["nlcd"], "slope", "huc8_01"),
    "raster_grouped_sum": oracle.grouped_sum(["nlcd"], "awc", "huc8_01"),
    "raster_lines_join": oracle.lines_join(["nlcd", "soil"], "huc8_01"),
    "raster_summary": oracle.summary(["slope", "awc", "kfactor"], "huc8_01"),
    "multi_operation": oracle.multi(
        grouped_counts={"nlcd_soil": ["nlcd", "soil"]},
        grouped_averages={"nlcd_slope": (["nlcd"], "slope", "huc8_01")},
        averages={"avg_awc": ("awc", "huc8_01")},
    ),
}


# ---------------------------------------------------------------------------
# General relational surface (SURVEY.md §2.3) over the TPC-H-ish tables.
# ---------------------------------------------------------------------------

_RELATIONAL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": lambda s, d: rel.pricing_summary(_t(s, d)["lineitem"]),
    "top_customers_by_revenue": lambda s, d: rel.top_customers_by_revenue(
        *(lambda t: (t["lineitem"], t["orders"], t["customer"]))(_t(s, d))
    ),
    "semi_anti_customers": lambda s, d: rel.semi_anti_customers(
        *(lambda t: (t["customer"], t["orders"]))(_t(s, d))
    ),
    "window_running_total": lambda s, d: rel.running_total_per_customer(_t(s, d)["orders"]),
    "rollup_revenue": lambda s, d: rel.rollup_revenue(
        *(lambda t: (t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"]))(_t(s, d))
    ),
    "cube_order_counts": lambda s, d: rel.cube_order_counts(_t(s, d)["orders"]),
    "grouping_sets_revenue": lambda s, d: rel.grouping_sets_revenue(s, _t(s, d)["lineitem"]),
    "set_ops_customers": lambda s, d: rel.set_ops_customers(
        *(lambda t: (t["customer"], t["orders"]))(_t(s, d))
    ),
    "scalar_functions_showcase": lambda s, d: rel.scalar_functions_showcase(_t(s, d)["part"]),
    "datetime_functions_showcase": lambda s, d: rel.datetime_functions_showcase(_t(s, d)["orders"]),
    "json_extract_events": lambda s, d: rel.json_extract_events(_t(s, d)["events"]),
    "array_functions_showcase": lambda s, d: rel.array_functions_showcase(_t(s, d)["documents"]),
    "asof_join_events_orders": lambda s, d: rel.asof_join_events_orders(
        *(lambda t: (t["events"], t["orders"]))(_t(s, d))
    ),
    "interval_join_events": lambda s, d: rel.interval_join_events(_t(s, d)["events"]),
    "pivot_event_counts": lambda s, d: rel.pivot_event_counts(_t(s, d)["events"]),
}

_RELATIONAL_ORACLES: dict[str, str] = {
    "pricing_summary": rel.pricing_summary_sql(),
    "top_customers_by_revenue": rel.top_customers_sql(),
    "semi_anti_customers": rel.semi_anti_customers_sql(),
    "window_running_total": rel.running_total_sql(),
    "rollup_revenue": rel.rollup_revenue_sql(),
    "cube_order_counts": rel.cube_order_counts_sql(),
    "grouping_sets_revenue": rel.grouping_sets_revenue_sql(),
    "set_ops_customers": rel.set_ops_customers_sql(),
    "scalar_functions_showcase": rel.scalar_functions_showcase_sql(),
    "datetime_functions_showcase": rel.datetime_functions_showcase_sql(),
    "json_extract_events": rel.json_extract_events_sql(),
    "array_functions_showcase": rel.array_functions_showcase_sql(),
    "asof_join_events_orders": rel.asof_join_events_orders_sql(),
    "interval_join_events": rel.interval_join_events_sql(),
    "pivot_event_counts": rel.pivot_event_counts_sql(),
}


def _tf(s: SparkSession, d: str):
    """TPC-H fact-table loader: bucketed-on-orderkey layout when the
    session runs in bucketed-fixture mode (the sf10 gates — the
    production serving layout, r10 verdict #1), raw parquet otherwise
    (the driver gate). Same rows either way; the oracles hash-gate it."""
    from mmw_geoprocessing_spark.sources.tpch_layout import fact_tables

    return fact_tables(s, d)


def _tpch_q3(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    t = _tf(s, d)
    return tpch.q3_shipping_priority(t["customer"], t["orders"], t["lineitem"])


def _tpch_q5(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    t = _tf(s, d)
    return tpch.q5_local_supplier_volume(
        t["customer"], t["orders"], t["lineitem"], t["supplier"], t["nation"], t["region"]
    )


def _tpch_q6(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    return tpch.q6_forecast_revenue(_t(s, d)["lineitem"])


def _tpch_q6_clustered(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    return tpch.q6_forecast_revenue_clustered(s, d)


def _tpch_q10(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    t = _tf(s, d)
    return tpch.q10_returned_items(
        t["customer"], t["orders"], t["lineitem"], t["nation"]
    )


def _tpch_q3_preagg(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    return tpch.q3_shipping_priority_preagg(s, d)


def _tpch_q10_preagg(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    return tpch.q10_returned_items_preagg(s, d)


def _tpch_q14(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    t = _t(s, d)
    return tpch.q14_promo_effect(t["lineitem"], t["part"])


def _tpch_q18(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.operators import tpch

    t = _tf(s, d)
    return tpch.q18_large_volume_customers(
        t["customer"], t["orders"], t["lineitem"]
    )


def _udtf_words(s: SparkSession, d: str) -> DataFrame:
    from mmw_geoprocessing_spark.functions.udtf_ops import word_positions

    return word_positions(s, _t(s, d)["documents"])


_REL_EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "windows_showcase": lambda s, d: rex.windows_showcase(_t(s, d)["orders"]),
    "aggregate_variants": lambda s, d: rex.aggregate_variants(_t(s, d)["orders"]),
    "approx_distinct": lambda s, d: rex.approx_distinct(
        *(lambda t: (t["orders"], t["lineitem"]))(_t(s, d))
    ),
    "string_agg_ordered": lambda s, d: rex.string_agg_ordered(
        *(lambda t: (t["customer"], t["nation"]))(_t(s, d))
    ),
    "correlated_subquery": lambda s, d: rex.correlated_subquery(s, _t(s, d)["customer"]),
    "cross_join_dims": lambda s, d: rex.cross_join_dims(
        *(lambda t: (t["region"], t["nation"]))(_t(s, d))
    ),
    "pandas_udf_showcase": lambda s, d: rex.pandas_udf_showcase(_t(s, d)["orders"]),
    "tpch_q3": _tpch_q3,
    "tpch_q5": _tpch_q5,
    # round 10 (final): Q6 — the canonical pushdown/codegen showcase
    # (3 predicates into the parquet reader, no join); Q10 — returned-
    # item lost revenue, 3-way fact join + broadcast dim + money top-20
    "tpch_q6": _tpch_q6,
    "tpch_q6_clustered": _tpch_q6_clustered,
    "tpch_q10": _tpch_q10,
    # r13 verdict #3: the ingest-time revenue-MV serving paths for the
    # two queries whose bucketed-layout residual stayed ~2.2x at sf10
    # (the per-row money kernel). Same oracles — layout is invisible.
    "tpch_q3_preagg": _tpch_q3_preagg,
    "tpch_q10_preagg": _tpch_q10_preagg,
    # Q14 — promo share: broadcast dim + exact-cents ratio; Q18 —
    # large-volume customers: the aggregate-then-semi-join shape
    "tpch_q14": _tpch_q14,
    "tpch_q18": _tpch_q18,
    "udtf_word_positions": _udtf_words,
    # round 10: iterative-algorithm family — fixed-point PageRank over
    # the customer↔supplier trade graph (bigint micro-units, so the
    # hash gate holds at any partitioning; operators/graph.py)
    "graph_pagerank": lambda s, d: gr.pagerank_trade_graph(
        *(lambda t: (t["orders"], t["lineitem"]))(_t(s, d))
    ),
}


def _tpch_oracles() -> dict[str, str]:
    from mmw_geoprocessing_spark.functions.udtf_ops import word_positions_sql
    from mmw_geoprocessing_spark.operators import tpch

    return {
        "tpch_q3": tpch.q3_sql(),
        "tpch_q5": tpch.q5_sql(),
        "tpch_q6": tpch.q6_sql(),
        "tpch_q6_clustered": tpch.q6_clustered_sql(),
        "tpch_q10": tpch.q10_sql(),
        "tpch_q3_preagg": tpch.q3_preagg_sql(),
        "tpch_q10_preagg": tpch.q10_preagg_sql(),
        "tpch_q14": tpch.q14_sql(),
        "tpch_q18": tpch.q18_sql(),
        "udtf_word_positions": word_positions_sql(),
    }


_REL_EXT_ORACLES: dict[str, str] = {
    "windows_showcase": rex.windows_showcase_sql(),
    "aggregate_variants": rex.aggregate_variants_sql(),
    "approx_distinct": rex.approx_distinct_sql(),
    "string_agg_ordered": rex.string_agg_ordered_sql(),
    "correlated_subquery": rex.correlated_subquery_sql(),
    "cross_join_dims": rex.cross_join_dims_sql(),
    "pandas_udf_showcase": rex.pandas_udf_showcase_sql(),
    **_tpch_oracles(),
    "graph_pagerank": gr.pagerank_trade_graph_sql(),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: zonal histogram (RasterGroupedCount) at sf0.001."""
    return _q_grouped_count(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        **_LLM_QUERIES,
        **_STREAM_QUERIES,
        **_ZONAL_QUERIES,
        **_RELATIONAL_QUERIES,
        **_REL_EXT_QUERIES,
        # every claimed-done operator carries BOTH a queries() entry and
        # an oracle_sql() twin; the library group keeps its lib_ prefix
        **lib_queries(),
    }


def oracle_sql() -> dict[str, str]:
    return {
        **_LLM_ORACLES,
        **_STREAM_ORACLES,
        **_ZONAL_ORACLES,
        **_RELATIONAL_ORACLES,
        **_REL_EXT_ORACLES,
        **lib_oracle_sql(),
    }


# ---------------------------------------------------------------------------
# Library operators, merged into queries()/oracle_sql() above. Note
# lib_cosine_neardup_wide returns 0 rows on corpora without planted
# near-copies (threshold 0.9 is its 100 TB design point) — the oracle
# replays the full band-key plan either way, and the operator's
# non-trivial evidence is the recall>=0.95 planted-pair test
# (tests/test_similarity.py) plus the clustered-corpus twin.
# ---------------------------------------------------------------------------

# benchmark rows for the contamination scan: a deterministic 1/101
# slice of the corpus itself (same convention as tests/test_pipelines);
# vocabulary-renamed replica copies keep hits copy-local, so results
# scale linearly like a real eval-suite overlap
_CONTAMINATION_BENCH_WHERE = "doc_id % 101 = 7"

# Deterministic PII / markup injection shared by the text_pii_redact /
# text_normalize entries and their oracles: the plain documents table
# contains no PII or HTML, so both engines append the SAME synthetic
# spans (one email / ipv4 / phone / ssn, or a tag + entity pair) before
# the operator runs — the identical injection tools/make_goldens.py and
# tests/test_pipelines.py use.
_PII_INJECT_SQL = (
    "SELECT doc_id, text || ' u' || CAST(doc_id AS VARCHAR) || '@ex.org"
    " 10.0.0.' || CAST(doc_id % 255 AS VARCHAR) ||"
    " ' 555-867-5309 123-45-6789' AS text FROM documents"
)
_MARKUP_INJECT_SQL = (
    "SELECT doc_id, '<p class=\"x\">' || text ||"
    " '</p> &amp; &lt;tail&gt;   end' AS text FROM documents"
)


def _pii_injected(docs: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org 10.0.0."),
            (F.col("doc_id") % 255).cast("string"),
            F.lit(" 555-867-5309 123-45-6789"),
        ).alias("text"),
    )


def _markup_injected(docs: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return docs.select(
        "doc_id",
        F.concat(
            F.lit('<p class="x">'),
            F.col("text"),
            F.lit("</p> &amp; &lt;tail&gt;   end"),
        ).alias("text"),
    )
# corpus_mix registered workload: one source cut hard, one effectively
# unlimited, the rest at the 700-token default — exercises every branch
# of the budget CASE on the fixture corpus.
_MIX_BUDGETS = {"src0": 200, "src1": 1_000_000_000}


def lib_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _contamination(s: SparkSession, d: str) -> DataFrame:
        docs = _t(s, d)["documents"]
        bench = docs.filter("doc_id % 101 = 7")
        return ta.contamination_check(docs, bench, n=13)

    return {
        "lib_contamination_check": _contamination,
        "lib_cosine_neardup_wide": lambda s, d: sim.cosine_neardup_wide(
            _t(s, d)["embeddings"]
        ),
        "lib_repetition_scores": lambda s, d: ta.repetition_scores(
            _t(s, d)["documents"]
        ),
        "lib_semantic_dedup_pairs": lambda s, d: sim.semantic_dedup_pairs(
            _t(s, d)["embeddings"]
        ),
        # round 8 additions
        "text_unigram_surprisal": lambda s, d: ta.unigram_surprisal_scores(
            _t(s, d)["documents"]
        ),
        # round 10: conditional-LM scoring — the bigram step toward the
        # CCNet perplexity filter (transition improbability, which a
        # unigram model cannot see)
        "text_bigram_surprisal": lambda s, d: ta.bigram_surprisal_scores(
            _t(s, d)["documents"]
        ),
        "embedding_quantize_int8": lambda s, d: sim.quantize_embeddings(
            _t(s, d)["embeddings"]
        ),
        # round 10 (r9 verdict #8): the Arrow matmul kernel's rank-only
        # face — full oracle via the exact fold's ranking (raw cosines
        # are summation-order-sensitive; the ranking is not)
        "similarity_cosine_topk_pandas": lambda s, d: sim.cosine_topk_pandas_ranks(
            _t(s, d)["embeddings"]
        ),
        "similarity_ann_ivf_q8_topk": lambda s, d: sim.ann_ivf_q8_topk(
            _t(s, d)["embeddings"]
        ),
        "sampling_corpus_mix": lambda s, d: samp.corpus_mix(
            _t(s, d)["documents"], budgets=_MIX_BUDGETS
        ),
        # round 11 (r10 verdict #8): grouped top-p nucleus selection and
        # the fused decontaminate-then-mix curation pass
        "sampling_nucleus_topp": lambda s, d: samp.nucleus_topp_sample(
            _t(s, d)["documents"]
        ),
        "sampling_decontaminated_mix": lambda s, d: samp.decontaminated_mix(
            _t(s, d)["documents"], budgets=_MIX_BUDGETS
        ),
        # round 12 (r11 verdict #4): the serving twin — bench grams and
        # the contaminated-id set persisted at ingest via the index
        # store; the per-run mix is survivor-side only
        "sampling_decontaminated_mix_disk": lambda s, d: samp.decontaminated_mix_disk(
            s, d, budgets=_MIX_BUDGETS
        ),
        "text_quality_percentile_filter": lambda s, d: ta.quality_percentile_filter(
            _t(s, d)["documents"], p=0.5
        ),
        "text_chunk_documents": lambda s, d: ta.chunk_documents(
            _t(s, d)["documents"]
        ),
        # round 9: transitive closure over the semantic pair graph —
        # the operator a real pipeline runs AFTER pair generation
        # (keep one per CLUSTER; the pairwise one-level rule
        # under-prunes transitive chains)
        "semantic_dedup_components": lambda s, d: sim.semantic_dedup_components(
            _t(s, d)["embeddings"]
        ),
        # round 9: promotions of lib+pytest operators that always had
        # SQL twins — the end-to-end curation pipeline, the minhash
        # closure, dataset-assembly ops, and the PII/normalize text
        # stages (run over deterministically injected text so both
        # engines see real PII/markup; plain documents contain none)
        "pipeline_curate_corpus": lambda s, d: pl.curate_corpus(
            _t(s, d)["documents"]
        ),
        "dedup_neardup_components": lambda s, d: dd.neardup_components(
            _t(s, d)["documents"]
        ),
        "sampling_deterministic_split": lambda s, d: samp.deterministic_split(
            _t(s, d)["documents"]
        ),
        "sampling_stratified_sample": lambda s, d: samp.stratified_sample(
            _t(s, d)["documents"], "source", 0.25
        ),
        "sampling_pack_token_batches": lambda s, d: samp.pack_token_batches(
            _t(s, d)["documents"]
        ),
        # round 10: deterministic epoch-seeded training order (dense
        # global positions without a single-partition sort) and the
        # one-pass per-column profiler (Expand-based exact distincts)
        "sampling_epoch_shuffle": lambda s, d: samp.epoch_shuffle(
            _t(s, d)["documents"], epoch=1
        ),
        "table_profile": lambda s, d: prof.table_profile(
            _t(s, d)["documents"]
        ),
        "text_pii_redact": lambda s, d: ta.pii_redact(
            _pii_injected(_t(s, d)["documents"])
        ),
        "text_normalize": lambda s, d: ta.normalize_text(
            _markup_injected(_t(s, d)["documents"])
        ),
        # round 9 additions: corpus keyword retrieval (BM25 top-k),
        # CDC changelog compaction (latest-wins MERGE shape), and
        # gap-based batch sessionization (the batch twin of the
        # streaming session windows)
        "search_bm25_topk": lambda s, d: se.bm25_topk(s, _t(s, d)["documents"]),
        # round 10: the ingest-time-index serving shape (persisted
        # postings/df/totals; the per-query corpus scan moves to ingest)
        "search_bm25_indexed_topk": lambda s, d: se.bm25_indexed_topk(
            s, _t(s, d)["documents"]
        ),
        # round 11: the DURABLE index serving shape — postings bucketed
        # by term on disk, re-attached across processes, probe
        # bucket-prunes to the query terms (r10 verdict #2)
        "search_bm25_disk_topk": lambda s, d: se.bm25_disk_topk(s, d),
        # round 11: the incremental-ingest face — exactly-once postings
        # append per drop + delta-merged df/totals siblings
        "search_bm25_index_append": lambda s, d: se.bm25_index_append_topk(s, d),
        # round 12: the maintenance face — appended fragments rewritten
        # back to one file per bucket (generation swap; markers, bucket
        # pruning and exactly-once all survive the rewrite)
        "search_bm25_index_compact": lambda s, d: se.bm25_index_compact_topk(s, d),
        "cdc_changelog_merge": lambda s, d: cdc.changelog_merge_orders(
            _t(s, d)["orders"]
        ),
        "sessionize_events": lambda s, d: rex.sessionize_events(
            _t(s, d)["events"]
        ),
        # hybrid retrieval: BM25 keyword leg fused with the
        # embedding-cosine leg via reciprocal-rank fusion
        "search_hybrid_rrf_topk": lambda s, d: se.hybrid_rrf_topk(
            s, _t(s, d)["documents"], _t(s, d)["embeddings"]
        ),
        # round 10: the scale twin — dense leg probes the persisted IVF
        # index (no full-corpus crossJoin); recall vs the exact leg is
        # pinned in tests/test_search_cdc_sessions.py
        "search_hybrid_rrf_ivf_topk": lambda s, d: se.hybrid_rrf_ivf_topk(
            s, _t(s, d)["documents"], _t(s, d)["embeddings"]
        ),
        # incremental crawl dedup: probe the incoming batch against the
        # reference corpus's persisted LSH index — never batch x batch
        # or ref x ref
        # round 11: the daily-crawl probe against the durable on-disk
        # reference band/array indexes (bucketed by bkey / doc_id)
        "dedup_incremental_disk": lambda s, d: dd.incremental_batch_dedup_disk(s, d),
        # round 12: the append face of the minhash reference indexes —
        # yesterday's drop's band signatures + shingle arrays land via
        # two journaled exactly-once commits, then today's batch probes
        # the combined reference (r11 verdict #2)
        "dedup_incremental_append": lambda s, d: dd.incremental_batch_dedup_append(
            s, d
        ),
        "dedup_incremental_batch": lambda s, d: dd.incremental_batch_dedup(
            _t(s, d)["documents"]
        ),
        # cross-document duplicated-span detection (ExactSubstr at word-
        # window granularity, Lee et al.)
        "text_duplicate_spans": lambda s, d: ta.duplicate_spans(
            _t(s, d)["documents"]
        ),
        # hashed-feature linear classifier scoring (fastText/DCLM-style
        # model-based quality filter; stub weights, real plumbing)
        "text_classifier_score": lambda s, d: ta.classifier_score(
            _t(s, d)["documents"]
        ),
        # cohort retention rollup (product-analytics shape) over orders
        "retention_cohorts": lambda s, d: rex.retention_cohorts(
            _t(s, d)["orders"]
        ),
        # first-touch ordered funnel over events
        "funnel_conversion": lambda s, d: rex.funnel_conversion(
            _t(s, d)["events"]
        ),
        # market-basket pair affinity mining over lineitem baskets
        "basket_pair_affinities": lambda s, d: rex.basket_pair_affinities(
            _t(s, d)["lineitem"]
        ),
        # round 10 (late): crawl curation — per-domain rate cap
        # (C4/RefinedWeb-style; WindowGroupLimit partial top-k) and
        # fixed-size broadcast Bloom membership probe (per-batch cost
        # O(batch) regardless of reference-corpus size; deterministic
        # md5 bit math so even the false positives replay in DuckDB)
        "curation_domain_rate_cap": lambda s, d: cu.domain_rate_cap(
            _t(s, d)["documents"]
        ),
        "dedup_bloom_probe": lambda s, d: cu.bloom_probe_dedup(
            _t(s, d)["documents"]
        ),
        # SCD type-2 history from the synthesized changelog: the same
        # single key-shuffle as the type-1 merge, lead() ranges, no join
        "cdc_scd2_history": lambda s, d: cdc.scd2_history_orders(
            _t(s, d)["orders"]
        ),
        # salting demonstration: hot-key fact join spread over N_SALTS
        # reducers; result provably identical to the plain join
        "skew_join_salted": lambda s, d: sk.skew_join_salted(
            _t(s, d)["orders"], _t(s, d)["customer"]
        ),
        # streaming sessionization: session_window state merged across
        # micro-batches, flush-sentinel watermark heartbeat, drained
        # sink == the batch gaps-and-islands twin
        "stream_sessionize": sw.stream_sessionize_batch,
        # the custom-stateful-operator face: applyInPandasWithState
        # running counts drained in update mode; final per-user value
        # has the closed-form batch twin (counts are monotone).
        "stream_stateful_counts": sw.stream_stateful_counts_batch,
        # round 11: streaming ingest into the durable search index —
        # exactly-once by chunk-id marker commit (idempotent sink)
        "stream_index_append": si.stream_index_serve,
        # round 13 (r12 verdict #2): the same exactly-once streaming
        # ingest face for the OTHER two durable index families — the
        # cell-partitioned IVF inverted file (embedding drops assigned
        # against the frozen quantizer, DPP probe unchanged) and the
        # minhash band/array reference indexes (two journaled commits
        # per drop, crash-window-safe)
        "stream_ivf_index_append": si.stream_ivf_serve,
        "stream_minhash_index_append": si.stream_minhash_serve,
    # round 13 (late): the image band index's streaming face — every
    # durable index family (bm25 / ivf / minhash / phash) now has one
    "stream_phash_index_append": si.stream_phash_serve,
        # Spark-4 custom Python DataSource (pyspark.sql.datasource):
        # deterministic synthetic ledger read in parallel partitions;
        # md5-derived content gives it a full value-hash oracle. The
        # source is sf-independent by design (it tests the CONNECTOR
        # contract, not the fixture data).
        "source_python_ledger": lambda s, d: psrc.ledger_account_rollup(s),
        # the STREAMING side of the connector (DataSourceStreamReader:
        # offset bookkeeping, checkpointed availableNow drain,
        # exactly-once parquet sink) — same ledger, same oracle
        "source_python_stream": lambda s, d: psrc.ledger_stream_rollup(s),
        # table maintenance: fragment -> compact (range-clustered
        # rewrite) -> read back; oracle = the original table (row
        # preservation through the maintenance cycle)
        "maintenance_compact": maint.compact_orders_roundtrip,
        # layout services, part 2 (round 10 late): Z-order rewrite
        # (Morton interleave of custkey×orderdate rank buckets, pure
        # codegen arithmetic, one repartitionByRange) answered through
        # the zone-map index — files are opened only when their
        # min/max envelope intersects the 2-D box; the residual filter
        # makes zone-map planning invisible in the result, which is
        # what the oracle (a plain full-scan filter) checks
        "maintenance_zorder": maint.zorder_box_query,
        # the zone-map index itself as a planning service over the
        # range-clustered compacted layout: per-file min/max built in
        # one scan, predicate∩envelope pruning, survivors-only read
        "source_zonemap_prune": maint.zonemap_prune_orders,
        # layout services, part 3: copy-on-write row-level delete (the
        # GDPR job) — zone-map-located files rewritten with an
        # anti-filter, everything else untouched in the manifest; cost
        # ∝ keys-hit-files, not table size. Oracle = NOT IN anti-filter
        # over the raw table (the delete must be indistinguishable)
        "maintenance_delete_rows": maint.delete_rows_orders,
        # the merge-on-read twin (Iceberg equality-deletes / Delta
        # deletion vectors): O(1) commit = a delete-key file; reads pay
        # a broadcast anti-join until compaction folds it in. Same
        # oracle as the copy-on-write twin — a reader must not be able
        # to tell the strategies apart
        "maintenance_delete_mor": maint.delete_rows_orders_mor,
        # round 11: snapshot time travel — v0 readable after the v1
        # delete commit (CoW never mutates committed files)
        "maintenance_time_travel": maint.time_travel_orders,
        # incremental view maintenance: the per-date revenue rollup
        # kept current by delta algebra (negate-old + add-new,
        # O(|changelog|)); oracle = the full recompute over the merged
        # snapshot that IVM must be indistinguishable from
        "cdc_incremental_rollup": lambda s, d: cdc.incremental_rollup_orders(
            _t(s, d)["orders"]
        ),
        # SQL:2003 MERGE INTO (Delta MERGE): the join-shaped three-
        # clause merge for one-row-per-key batches — one full-outer
        # sort-merge join, both sides shuffle the key once. The
        # union-shaped changelog_merge stays the cheaper path for
        # sequenced feeds; this is the standard-semantics face
        "cdc_merge_into": lambda s, d: cdc.merge_into_orders(
            _t(s, d)["orders"]
        ),
        # declarative data-quality expectations (DLT/Great-Expectations
        # surface): named constraints evaluated in ONE scan — annotate
        # is a zero-shuffle projection, the summary one partial+final
        # conditional agg; warn/drop/fail policies pytest-pinned
        "quality_expectations": lambda s, d: ex.quality_expectations_orders(
            _t(s, d)["orders"]
        ),
        # cogrouped-map (groupBy().cogroup().applyInPandas): the last
        # pandas-on-Spark face — per-key pd.merge_asof as a TWIN of the
        # declarative carry-forward as-of (same oracle; equality with
        # the window plan pytest-pinned). The registered scale path
        # stays the linear no-Python window plan
        "asof_join_cogroup": lambda s, d: rel.asof_join_cogroup(
            _t(s, d)["events"], _t(s, d)["orders"]
        ),
    }


def lib_oracle_sql() -> dict[str, str]:
    return {
        "lib_contamination_check": ta.contamination_check_sql(
            _CONTAMINATION_BENCH_WHERE, 13
        ),
        "lib_cosine_neardup_wide": sim.cosine_neardup_wide_sql(),
        "lib_repetition_scores": ta.repetition_scores_sql(),
        "lib_semantic_dedup_pairs": sim.semantic_dedup_pairs_sql(),
        "text_unigram_surprisal": ta.unigram_surprisal_scores_sql(),
        "text_bigram_surprisal": ta.bigram_surprisal_scores_sql(),
        "embedding_quantize_int8": sim.quantize_embeddings_sql(),
        "similarity_cosine_topk_pandas": sim.cosine_topk_pandas_ranks_sql(),
        "similarity_ann_ivf_q8_topk": sim.ann_ivf_q8_topk_sql(),
        "sampling_corpus_mix": samp.corpus_mix_sql(budgets=_MIX_BUDGETS),
        "sampling_nucleus_topp": samp.nucleus_topp_sample_sql(),
        "sampling_decontaminated_mix": samp.decontaminated_mix_sql(
            budgets=_MIX_BUDGETS
        ),
        "sampling_decontaminated_mix_disk": samp.decontaminated_mix_disk_sql(
            budgets=_MIX_BUDGETS
        ),
        "text_quality_percentile_filter": ta.quality_percentile_filter_sql(p=0.5),
        "text_chunk_documents": ta.chunk_documents_sql(),
        "semantic_dedup_components": sim.semantic_dedup_components_sql(),
        "pipeline_curate_corpus": pl.curate_corpus_sql(),
        "dedup_neardup_components": dd.neardup_components_sql(),
        "sampling_deterministic_split": samp.deterministic_split_sql(),
        "sampling_stratified_sample": samp.stratified_sample_sql("source", 0.25),
        "sampling_pack_token_batches": samp.pack_token_batches_sql(),
        "sampling_epoch_shuffle": samp.epoch_shuffle_sql(epoch=1),
        "table_profile": prof.table_profile_sql(),
        "text_pii_redact": ta.pii_redact_sql(table=f"({_PII_INJECT_SQL})"),
        "text_normalize": ta.normalize_text_sql(table=f"({_MARKUP_INJECT_SQL})"),
        "search_bm25_topk": se.bm25_topk_sql(),
        "search_bm25_indexed_topk": se.bm25_indexed_topk_sql(),
        "search_bm25_disk_topk": se.bm25_disk_topk_sql(),
        "search_bm25_index_append": se.bm25_index_append_topk_sql(),
        "search_bm25_index_compact": se.bm25_index_compact_topk_sql(),
        "cdc_changelog_merge": cdc.changelog_merge_orders_sql(),
        "sessionize_events": rex.sessionize_events_sql(),
        "search_hybrid_rrf_topk": se.hybrid_rrf_topk_sql(),
        "search_hybrid_rrf_ivf_topk": se.hybrid_rrf_ivf_topk_sql(),
        "dedup_incremental_batch": dd.incremental_batch_dedup_sql(),
        "dedup_incremental_disk": dd.incremental_batch_dedup_disk_sql(),
        "dedup_incremental_append": dd.incremental_batch_dedup_append_sql(),
        "text_duplicate_spans": ta.duplicate_spans_sql(),
        "text_classifier_score": ta.classifier_score_sql(),
        "retention_cohorts": rex.retention_cohorts_sql(),
        "funnel_conversion": rex.funnel_conversion_sql(),
        "basket_pair_affinities": rex.basket_pair_affinities_sql(),
        "curation_domain_rate_cap": cu.domain_rate_cap_sql(),
        "dedup_bloom_probe": cu.bloom_probe_dedup_sql(),
        "cdc_scd2_history": cdc.scd2_history_orders_sql(),
        "skew_join_salted": sk.skew_join_salted_sql(),
        "stream_sessionize": sw.stream_sessionize_batch_sql(),
        "stream_stateful_counts": sw.stream_stateful_counts_batch_sql(),
        "stream_index_append": si.stream_index_serve_sql(),
        "stream_ivf_index_append": si.stream_ivf_serve_sql(),
        "stream_minhash_index_append": si.stream_minhash_serve_sql(),
    "stream_phash_index_append": si.stream_phash_serve_sql(),
        "source_python_ledger": psrc.ledger_account_rollup_sql(),
        "source_python_stream": psrc.ledger_stream_rollup_sql(),
        "maintenance_compact": maint.compact_orders_roundtrip_sql(),
        "maintenance_zorder": maint.zorder_box_query_sql(),
        "source_zonemap_prune": maint.zonemap_prune_orders_sql(),
        "maintenance_delete_rows": maint.delete_rows_orders_sql(),
        "maintenance_delete_mor": maint.delete_rows_orders_mor_sql(),
        "maintenance_time_travel": maint.time_travel_orders_sql(),
        "cdc_incremental_rollup": cdc.incremental_rollup_orders_sql(),
        "cdc_merge_into": cdc.merge_into_orders_sql(),
        "quality_expectations": ex.quality_expectations_orders_sql(),
        "asof_join_cogroup": rel.asof_join_events_orders_sql(),
    }
