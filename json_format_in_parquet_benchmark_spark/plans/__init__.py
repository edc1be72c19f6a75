"""Query plan registry: every operator the engine claims is registered here
with (a) a Spark DataFrame builder and (b) where SQL-expressible, the exact
DuckDB oracle the driver cross-checks at sf0.01.  Import the submodules for
their registration side effects."""

from .registry import REGISTRY, Query, register  # noqa: F401

# Registration side effects -- each module adds its queries to REGISTRY.
# ORDER MATTERS for the external driver (it samples the first 50 registered
# queries); the import order below is overridden by the explicit
# evidence-priority reorder at the bottom of this module.
from . import queries_json  # noqa: E402,F401
from . import queries_generator  # noqa: E402,F401
from . import queries_graph  # noqa: E402,F401
from . import queries_timeseries  # noqa: E402,F401
from . import queries_relational  # noqa: E402,F401
from . import queries_tpch  # noqa: E402,F401
from . import queries_text  # noqa: E402,F401
from . import queries_search  # noqa: E402,F401
from . import queries_sketches  # noqa: E402,F401
from . import queries_similarity  # noqa: E402,F401
from . import queries_embedding_stats  # noqa: E402,F401
from . import queries_multimodal  # noqa: E402,F401
from . import queries_udf  # noqa: E402,F401
from . import queries_sinks  # noqa: E402,F401
from . import queries_streaming  # noqa: E402,F401
from . import queries_formats  # noqa: E402,F401
from . import queries_dedup  # noqa: E402,F401
from . import queries_pipeline  # noqa: E402,F401


# Evidence-driven ordering, round 12: the external driver cross-checks
# the FIRST 50 registered queries each round.  CORRECTNESS_r11 landed
# 50/50 green (cumulative: every entry green at its latest check except
# dedup_url_canonical, which has never been driver-checked).  No plan
# hash changed this round (all four optimization experiments were
# measured and REJECTED -- results/scale_probe.txt round-12 block), so
# the window is pure evidence-age ratchet: first dedup_url_canonical
# (the r11 verdict's top item -- the only registry entry with zero
# driver CORRECTNESS evidence), then the 18 remaining r5-stale entries
# staged by round 11 as _ROUND12_EVIDENCE_TODO, then 31 of the 47
# r6-stale entries (cheap singles first; the slow composed/streaming
# ones sit past the window as the round-13 TODO so a truncated pass
# still covers everything cheap).  After this round the stalest
# evidence is r6 with the 16 staged entries left.
_EVIDENCE_PRIORITY = (
    # -- the r11-added entry with NO driver evidence yet (verdict item 1) --
    "dedup_url_canonical",
    # -- the 18 r5-stale entries staged as _ROUND12_EVIDENCE_TODO --
    "join_broadcast_region_revenue",
    "join_fuzzy_part_names",
    "json_variant_get",
    "orders_open_interval_sweep",
    "orders_seasonality_index",
    "profile_table_columns",
    "profile_token_zipf",
    "sample_language_temperature",
    "scan_xml_events",
    "similarity_matryoshka_recall",
    "sketch_histogram_rollup",
    "stream_late_data_dropped",
    "stream_session_window",
    "stream_session_window_batch",
    "text_adaptive_length_filter",
    "text_bpe_pair_counts",
    "text_chunk_overlap",
    "text_classifier_score",
    # -- r6-stale ratchet: events / ab-test singles --
    "events_ab_cuped",
    "events_ab_srm_check",
    "events_ab_welch_ttest",
    "events_attribution_lasttouch",
    "events_autocorr",
    "events_bitmap_retention",
    "events_bootstrap_ci",
    "events_forecast_holt",
    "events_forecast_ses",
    "events_funnel_exclusion",
    "events_sankey_paths",
    # -- r6-stale: scans / formats / profiling --
    "format_scan_shredded_pushdown",
    "scan_footer_stats_manifest",
    "scan_ndjson_gzip",
    "json_paths_census",
    "generator_documents_planted",
    "dq_observe_inflight",
    "embedding_norms_arrow",
    # -- r6-stale: text / relational singles --
    "text_collocations_pmi",
    "text_novelty_curve",
    "text_term_burstiness",
    "udtf_event_streaks",
    "window_range_frame",
    "orders_backtest_naive",
    "sample_stratified_exact",
    "join_spatial_grid",
    # -- r6-stale: heavier tail (still inside the window) --
    "dedup_repeated_segments",
    "search_mmr_diversify",
    "similarity_range_radius",
    "scan_pyds_ndjson_ranges",
    "graph_bfs_distance",
)
# ROUND-13 EVIDENCE TODO (registry-checked below): the 16 r6-stale
# entries the round-12 window could not fit -- the slow composed /
# streaming ones, deliberately deferred as a block so this round's
# window stays inside the driver's time budget.  Fill the round-13
# window with them first, then whatever churns.  After that the stalest
# evidence is r7.
_ROUND13_EVIDENCE_TODO = (
    "dedup_containment_pairs",
    "dedup_planted_recall",
    "dedup_substring_strided",
    "graph_link_prediction",
    "graph_random_walks",
    "join_entity_resolution",
    "pipeline_rag_ingest",
    "sample_coreset_kcenter",
    "sink_inverted_index",
    "sink_parquet_bloom_lookup",
    "sink_snapshot_time_travel",
    "stream_lsh_dedup_gate",
    "stream_parquet_file_sink",
    "stream_pyds_ndjson_sink",
    "stream_pyds_replay",
    "stream_topk_heavy_hitters",
)

_missing = [
    n
    for n in _EVIDENCE_PRIORITY + _ROUND13_EVIDENCE_TODO
    if n not in REGISTRY
]
assert not _missing, f"evidence-priority names not in REGISTRY: {_missing}"
_ordered = {n: REGISTRY[n] for n in _EVIDENCE_PRIORITY}
_ordered.update((n, q) for n, q in REGISTRY.items() if n not in _ordered)
REGISTRY.clear()
REGISTRY.update(_ordered)
