"""The declared query/operator library with DuckDB oracles — public facade.

The library was a single 14.9k-line module through round 10; round 11
split it into per-family modules (VERDICT r10 item 7) with zero semantic
change. This module remains the import surface: ``QUERIES``, ``Query``,
``register_views`` and the correctness-harness knobs all live here (or
forward to ``plans.query_core``). The per-family modules register their
queries into the shared dict at import time, in the original file order,
and this module applies the driver-check ordering last.

Cross-engine determinism rules (decimal money sums, tie-broken ORDER BY,
microsecond timestamps — the contract every query follows) are documented
in ``plans/query_core.py``.
"""

from mission_data_pipeline_spark.plans import query_core as _core
from mission_data_pipeline_spark.plans.query_core import (  # noqa: F401
    QUERIES,
    Query,
    _dialect,
    _dsum,
    _q,
    _same,
    _scratch_dir,
    _sql,
    input_sample_predicate_duckdb,
    register_views,
    set_input_repartition,
    set_input_sample,
)

# Registration imports — original single-file section order, so the
# registry iterates identically to the pre-split module.
from mission_data_pipeline_spark.plans import queries_relational  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_window  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_textdedup  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_multimodal  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_operator_api  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_stats  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_tpch  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_io_misc  # noqa: F401,E402
from mission_data_pipeline_spark.plans import queries_curation  # noqa: F401,E402


def __getattr__(name):
    """Forward dynamic module globals (``_SCRATCH_ROOT``,
    ``_INPUT_REPARTITION``, ...) to ``query_core`` — the knob setters
    mutate query_core's globals, so reads must resolve there, not on an
    import-time snapshot."""
    return getattr(_core, name)


# Check ordering (STALEST-FIRST, regenerated per round from the
# CORRECTNESS_r*.json history). The per-round correctness check verifies
# the first ~50 QUERIES entries. Slots 1-2 hold the two queries that run
# the ccsds Data Source readers, whose packet builder changed after the
# r15 check; the ETL slice, which runs the read_packets scan, is at slot
# 6. Slots 3-17 keep r15's plan-changed / Python-internals-changed block
# (the Q3 build-side CTE pair, the substring-dedup BPE variant, the two
# read_packets consumers of the mapInArrow scan, the eight
# jpeg/flac-consuming media queries after the batched IDCT, the heldout
# LM scorer, and curation_html_extract); x2_substring_dedup and
# curation_shard_build_e2e yielded their slots to the two ccsds queries,
# being the least stale in the window (also checked in r14). Slots 18-44
# retire the ENTIRE remaining r09-stale overflow (the queries the r14
# cut displaced — no check is older than r10, VERDICT r14 item 9). Slot
# 45 is the alphabetically-first r10-stale query. The cut at 50 keeps
# the FIVE designated STATIC PURE-SQL roll-overs
# (oracle+lint+perturb-swept locally at sf0.01 AND sfx1 every round by
# scripts/round_gate.sh) in slots 46-50, AT the cut, so the r13 slot-51
# staleness failure mode cannot recur.
# ---------------------------------------------------------------------------

_CHECK_FIRST = [
    # --- ccsds Data Source readers changed since r15 (slots 1-2) ---
    "s1_ccsds_datasource_scan",
    "s1_ccsds_streaming_tail",
    # --- r15 plan-changed / Python-internals-changed (slots 3-17) ---
    "q3_shipping_priority",
    "q3_bucketed_colocated",
    "x2_substring_dedup_bpe",
    "etl_binary_decom_calibrate_e2e",
    "frames_to_packets_roundtrip",
    "x5_jpeg_pixel_stats",
    "x5_video_frame_stats",
    "x5_video_meta_decode",
    "x5_avi_meta_decode",
    "x5_avi_audio_stats",
    "x5_flac_sample_stats",
    "x5_image_dhash_near_dup",
    "x5_multimodal_features",
    "x4_heldout_backoff_logprob",
    "curation_html_extract",
    # --- the r09-stale overflow, retired in full (slots 18-44) ---
    "decode_golden_matrix",
    "grouping_sets_mixed",
    "j_fuzzy_match_join",
    "limit_check_alarm",
    "q12_shipmode_priority",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "q17_small_quantity_revenue",
    "q1_pricing_summary",
    "q22_global_sales_opportunity",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "s2_native_unpivot",
    "s3_filter_pushdown_in",
    "w1_native_tumbling_window",
    "w1_streaming_tumbling",
    "w4_native_session_window",
    "w4_streaming_dedup",
    "w_ewma_smooth",
    "x1_incremental_dedup",
    "x2_embedding_near_dup",
    "x3_prototype_prune",
    "x4_token_count_bpe",
    "x5_frame_sample",
    # --- stalest remaining (r10) filler, alphabetical (slot 45) ---
    "agg_global_stats",
    # --- the designated static pure-SQL roll-overs AT the cut ---
    "set_except",
    "set_bag_semantics_all",
    "join_anti",
    "join_null_safe_eq",
    "rollup_flag_status",
]

# Reorder IN PLACE (ADVICE r11): rebinding this module's QUERIES to a
# shallow copy would desync it from query_core.QUERIES — any later
# registration via the re-exported ``_q`` would land only in query_core's
# dict and be invisible to every consumer of the facade. clear()+update()
# keeps the two names aliased to one dict forever.
_ordered = {
    **{name: QUERIES[name] for name in _CHECK_FIRST},
    **{name: q for name, q in QUERIES.items() if name not in _CHECK_FIRST},
}
QUERIES.clear()
QUERIES.update(_ordered)
del _ordered

