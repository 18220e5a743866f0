"""Benchmark harness (BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Also times the end-to-end telemetry ETL slice (binary scan → decom →
calibrate → parquet) on a synthetic CCSDS file, mirroring the
reference's ``throughput_rps`` measure (etl_* entries; rows/s recorded
in the companion key "etl_rows_per_sec").
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "j1_broadcast_dim_join",
    "agg_distinct_by_group",
    "rollup_flag_status",
    "d3_pivot_wide",
    "s2_unpivot_melt",
    "w_rank_orders_by_priority",
    "w1_tumbling_window",
    "w4_sessionization",
    "asof_join_latest_purchase",
    "range_join_event_pairs",
    "agg_percentiles",
    "time_bucket_rollup",
    "x6_json_extract_agg",
    "d4_union_all",
    "x1_dedup_exact_hash",
    "x2_minhash_bands",
    "x3_lsh_topk_ann",
    "x3_ivf_topk_ann",
    "x2_ngram_jaccard_pairs",
    "x3_cosine_topk_bruteforce",
    "x4_token_stats",
    "x5_multimodal_payload_meta",
]

# Timed separately and NOT folded into headline_queries_total so the
# headline stays comparable across rounds; gives per-round visibility
# into the LLM-curation / ANN operator costs at bench scale.
EXTENDED = [
    "curation_c4_signals",
    "curation_pii_scrub",
    "curation_decontaminate",
    "curation_token_packing",
    "curation_chunk_tokens",
    "x4_bm25_relevance",
    "x4_unigram_logprob",
    "x4_tfidf_sparse",
    "x2_lsh_near_dedup_survivors",
    "x3_ann_recall",
    # round 4 additions (extended_total grows ~0.5 s; round-over-round
    # comparisons should use the per-query entries)
    "curation_temperature_sample",
    "agg_hll_distinct_bound",
    # round 4, second batch: winnowing fingerprints, lang-ID, sequence
    # analytics, substring-dup fraction, KLL sketch
    "x4_winnow_fingerprint",
    "x4_lang_id_confusion",
    "w_funnel_depth_histogram",
    "w_retention_cohorts",
    "x2_duplicate_span_fraction",
    "agg_kll_quantile_bound",
    # round 5: bigram LM (hash-keyed shuffles), PageRank, PQ ANN with
    # exact re-rank, leakage-safe cluster split
    "x4_bigram_logprob",
    "g_pagerank",
    "x3_pq_rerank_topk",
    "curation_leakage_safe_split",
    "x2_duplicate_components",
    "x4_heldout_backoff_logprob",
    # round 6: Q5 in the at-scale shape (dims broadcast + bucketed facts,
    # zero fact shuffles — includes the bucketed staging write each run)
    "q5_bucketed_broadcast_dims",
    # round 6: SemDeDup cluster-scoped semantic dedup (argmax assign +
    # within-cluster pairs + component closure); C4-style segment dedup
    # transform (hash-ranked first occurrence + reassembly)
    "x2_semantic_dedup",
    "curation_segment_dedup",
    # round 6, second batch: full-corpus BPE token budget (corpus-
    # proportional scan, vocabulary-bounded Python encode) and real
    # MJPEG-in-AVI frame decode throughput (fixture-sized codec cost)
    "x4_bpe_corpus_budget",
    "x5_video_frame_stats",
    # round 7: parallel-prefix EWMA (3-stage decomposition), real FLAC
    # decode, AVI audio-track decode, dHash image near-dup banding
    "w_ewma_sharded",
    "x5_flac_sample_stats",
    "x5_avi_audio_stats",
    "x5_image_dhash_near_dup",
    # round 7, second batch: degree-oriented triangle counting over the
    # co-occurrence graph, distributed full-corpus Lloyd k-means
    "g_triangle_count",
    "x3_kmeans_lloyd",
    # round 8: ExactSubstr span surgery (gram-keyed first-occurrence
    # dedup + per-doc interval merge), DSIR importance resampling,
    # FineWeb-style composed curation capstone
    "x2_substring_dedup",
    "curation_dsir_select",
    "curation_e2e_pipeline",
    "x2_incremental_near_dedup",
    "x3_hard_negative_mining",
    "curation_gopher_rules",
    "x3_matryoshka_recall",
    # round 9: stored-index incremental near-dedup (writes + probes the
    # on-disk LSH band index each run) and BPE-granularity ExactSubstr
    "x2_incremental_near_dedup_stored",
    "x2_substring_dedup_bpe",
    # round 9, second batch: quality-aware representative selection over
    # duplicate clusters; D4/SSL-prototypes per-cluster pruning;
    # filter-threshold P/R/F1 calibration sweep
    "curation_quality_dedup",
    "x3_prototype_prune",
    "curation_filter_threshold_sweep",
    # round 10: transactional compacted-index probe (writes base +
    # delta, compacts, probes per run), per-domain cap, distributed
    # prefix-sum token-budget selection, string-id quality dedup
    "x2_near_dedup_compacted_index",
    "curation_domain_cap",
    "curation_token_budget_select",
    "curation_quality_dedup_url",
    # round 10, second batch: Bloom-filter decontamination (map-side
    # broadcast-bitset gate + embedded exact twin) and UniMax
    # language-balanced water-filling sampling
    "curation_bloom_decontaminate",
    "curation_unimax_sample",
    # round 11: HTML→text extraction (pure per-row JVM regexp work —
    # the per-doc codec-style cost the WARC path pays before any gate)
    # and the text→vector bridge feeding ANN (sparse TF-IDF shuffles +
    # dense fold + broadcast-queries cosine scan)
    "curation_html_extract",
    "x3_text_embed_ann",
    # round 12: multi-representative over-cap pairing (the recall dial
    # on the planted giant bucket — candidate topology is the cost)
    "x2_lsh_bucket_cap_reps",
]

# Timed as their OWN series (VERDICT r11 item 4): the shard-build
# capstone is a whole corpus build (236 s at sfx10 — 60% of the r11
# extended anchor), so folding it into extended_total made the
# longitudinal extended comparison one-query-dominated. capstone_total
# is reported separately; extended_total stays comparable round-over-
# round (r12+ extended totals exclude it — compare r11's by subtracting
# its curation_shard_build_e2e entry).
CAPSTONE = [
    # round 11, second batch: the shard-build capstone — the whole
    # production path (extract → gate → near-dedup → UniMax → pack →
    # JSONL shards) timed as one number, stage barriers included
    "curation_shard_build_e2e",
]

N_ETL_PACKETS = 200_000

# VERDICT r13 item 6: the two sfx10 watch items are graph closures whose
# first execution pays heavy one-time JIT/codegen on iterated join
# stages — an untimed warm-up run before the timed samples (anchor mode
# only) separates steady-state cost from compile cost, the same way the
# ETL slice records its cold run separately.
_JIT_WARMUP = {"g_triangle_count", "x2_duplicate_components"}


def bench_etl(spark, out: dict) -> None:
    from mission_data_pipeline_spark.models.ccsds import generate_housekeeping_stream
    from mission_data_pipeline_spark.operators import (
        Calibration,
        ParameterDefinition,
        apply_calibrations,
        decommutate,
    )
    from mission_data_pipeline_spark.operators.decom import ParameterType
    from mission_data_pipeline_spark.sources import read_packets

    d = tempfile.mkdtemp(prefix="mdps_bench_")
    try:
        path = os.path.join(d, "hk.bin")
        with open(path, "wb") as f:
            f.write(generate_housekeeping_stream(N_ETL_PACKETS))
        defs = [
            ParameterDefinition("obc_temp", 0x100, 0, 16, ParameterType.UINT),
            ParameterDefinition("bus_voltage", 0x100, 2, 16, ParameterType.UINT),
            ParameterDefinition("bat_current", 0x100, 4, 16, ParameterType.UINT),
            ParameterDefinition("mission_time_s", 0x100, 6, 32, ParameterType.FLOAT),
        ]
        cals = [
            Calibration("obc_temp", "polynomial", (-55.0, 0.04394531), unit="degC"),
            Calibration("bus_voltage", "polynomial", (0.0, 0.008056640625), unit="V"),
            Calibration(
                "bat_current",
                "table",
                table_raw=(0, 1024, 2048, 3072, 4095),
                table_eng=(-2, -1, 0, 1, 2),
                unit="A",
            ),
        ]
        # Three identical runs: the first pays one-time session costs
        # (codegen, committer init) and is recorded as etl_cold_s; the
        # steady-state number is the best of the remaining two — a single
        # warm run right after 25 bench queries can absorb a major GC
        # from their garbage, which is measurement noise, not pipeline
        # cost. Mirrors the reference's throughput_rps measure.
        dts = []
        for sub in ("out_cold", "out1", "out2"):
            t0 = time.time()
            pk = read_packets(
                spark, path, sec_hdr_length=4, split_size=256 * 1024
            )
            params = apply_calibrations(decommutate(pk, defs), cals)
            params.write.mode("overwrite").partitionBy("name").parquet(
                os.path.join(d, sub)
            )
            dts.append(time.time() - t0)
        steady = min(dts[1:])
        out["queries"]["etl_binary_decom_calibrate"] = round(steady, 3)
        out["etl_cold_s"] = round(dts[0], 3)
        out["etl_rows_per_sec"] = round(N_ETL_PACKETS * len(defs) / steady)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # --anchor (or SPARK_GRAFT_BENCH_SAMPLES=N): best-of-3 per query
    # instead of best-of-2 — the committed longitudinal anchors are
    # taken in this mode, across TWO separated windows merged per-query
    # by scripts/merge_bench.py (BASELINE.md §anchor methodology; the
    # r08 anchor episode showed best-of-2 in one window is not enough
    # on this host).
    samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "2"))
    if "--anchor" in sys.argv[1:]:
        samples = max(samples, 3)
    from mission_data_pipeline_spark import get_spark
    from mission_data_pipeline_spark.observability import harvest_job_group
    from mission_data_pipeline_spark.plans.queries import QUERIES, register_views

    spark = get_spark(app_name="mdps-bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf_label = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The tables are timed as the driver ships them; the stamp keeps the
    # tripwire off baselines taken on a rewritten (compacted) layout.
    layout = {"mode": "driver-raw"}
    register_views(spark, sf_dir)  # warm the session + file listing
    # One small scan+shuffle so the first timed query doesn't absorb
    # one-time engine costs (codegen compile, shuffle/exchange init).
    spark.table("lineitem").groupBy("l_returnflag").count().count()

    out: dict = {
        "metric": "headline_queries_total",
        "samples_per_query": samples,
        "value": 0.0,
        "unit": "sec",
        "queries": {},
        "queries_noop": {},
        "sf": sf_label,
        "layout": layout,
        # the tripwire compares only runs on the same core count
        "cpus": spark.sparkContext.defaultParallelism,
    }
    total = 0.0
    shuffle_bytes: dict = {}
    sc = spark.sparkContext

    def _noop_run(q, name: str, i: int) -> float:
        """One noop-sink materialization; the FINAL sample runs under a
        per-query job group so its shuffle bytes are attributed to
        exactly its own jobs (plan construction included — some query
        callables run bounded driver-side jobs)."""
        final = i == samples - 1
        if final:
            sc.setJobGroup(f"bench:{name}", f"bench final noop run: {name}")
        try:
            t0 = time.time()
            q.spark(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.time() - t0
            if final:
                h = harvest_job_group(spark, f"bench:{name}")
                shuffle_bytes[name] = {
                    "read": h["shuffle_read_bytes"],
                    "write": h["shuffle_write_bytes"],
                }
            return dt
        finally:
            if final:
                sc._jsc.clearJobGroup()

    for name in HEADLINE:
        q = QUERIES[name]
        # Best-of-2: this host has noisy neighbors (observed 0.5 s -> 9 s
        # on the same query between back-to-back runs); the min of two
        # executions measures the engine, not the co-tenant. The ETL
        # slice below already does the same.
        dts, dts_noop = [], []
        for i in range(samples):
            t0 = time.time()
            q.spark(spark, sf_dir).count()
            dts.append(time.time() - t0)
            # Second series, noop-writer materialization: count() lets
            # column pruning drop every unreferenced expression — on q1
            # it measures 0.29 s where the aggregate arithmetic really
            # costs 1.2 s. The noop sink evaluates every output column
            # and transfers nothing to the driver — the HONEST number.
            # "queries"/"value" stay count-based for longitudinal
            # comparability with the recorded baseline (same
            # methodology); "queries_noop"/"value_noop" are the
            # corrected series going forward. See BASELINE.md round 5.
            dts_noop.append(_noop_run(q, name, i))
        dt = min(dts)
        out["queries"][name] = round(dt, 3)
        out["queries_noop"][name] = round(min(dts_noop), 3)
        total += dt
    out["shuffle_bytes"] = shuffle_bytes
    bench_etl(spark, out)
    total += out["queries"]["etl_binary_decom_calibrate"]
    out["value"] = round(total, 3)
    out["value_noop"] = round(
        sum(out["queries_noop"].values())
        + out["queries"]["etl_binary_decom_calibrate"],
        3,
    )

    ext: dict = {}
    warmed = []
    for name in EXTENDED:
        q = QUERIES[name]
        if name in _JIT_WARMUP and samples >= 3:
            # anchor protocol: one untimed warm-up (JIT/codegen absorb)
            q.spark(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            warmed.append(name)
        dts = []
        for i in range(samples):
            # Shuffle-BYTES tripwire covers EXTENDED too (VERDICT r10
            # item 4): the scale-critical operators (dedup,
            # decontaminate, substring) live here, and bytes are the
            # layout-deterministic signal wall-time noise can't fake.
            dts.append(_noop_run(q, name, i))
        ext[name] = round(min(dts), 3)
        if name == "q5_bucketed_broadcast_dims":
            # Staging the bucketed fact copies is a one-time deployment
            # cost, memoized per session since r07 — the first sample
            # includes it, later samples time the query alone. Record
            # the staging-inclusive number separately so neither is lost.
            out["q5_bucketed_first_run_incl_staging_s"] = round(dts[0], 3)
    out["extended_queries"] = ext
    out["extended_total"] = round(sum(ext.values()), 3)
    if warmed:
        out["jit_warmup_queries"] = warmed

    cap: dict = {}
    for name in CAPSTONE:
        q = QUERIES[name]
        dts = [_noop_run(q, name, i) for i in range(samples)]
        cap[name] = round(min(dts), 3)
    out["capstone_queries"] = cap
    out["capstone_total"] = round(sum(cap.values()), 3)
    # Self-describing methodology per series: round-over-round consumers
    # must not compare across methods (extended_* switched from count()
    # to the noop sink in round 5 — r04 and earlier extended numbers are
    # count-based).
    out["methodology"] = {
        "queries": "count() materialization (column-pruned; longitudinal "
        "series since r01)",
        "queries_noop": "noop-sink materialization, every output column "
        "evaluated (honest series, since r05)",
        "extended_queries": "noop-sink since r05; count() in r04 and "
        "earlier — do not compare across that boundary",
        "capstone_queries": "noop-sink; the shard-build capstone as its "
        "OWN series since r12 (it was 60% of the r11 extended anchor — "
        "folding it in made extended_total one-query-dominated). r11 "
        "and earlier record it inside extended_queries",
        "shuffle_bytes": "per-query shuffle read/write BYTES from the "
        "JVM AppStatusStore. JOB-GROUP-SCOPED since r12: only stages of "
        "jobs submitted under the final noop run's sc.setJobGroup are "
        "summed, so a co-tenant-delayed straggler stage from an earlier "
        "sample can no longer double-count into the delta (the r11 "
        "capstone 7.2->12.7 MB flag was that artifact; r10-r11 used a "
        "completed-stages time-window delta). Bytes are layout-"
        "deterministic where wall-time is noise-dominated; a >=1.5x "
        "write-bytes growth vs the previous round is the scale-"
        "regression tripwire (see regressions[])",
    }

    out["regressions"] = _regressions(out)

    # The driver captures only the LAST ~2000 chars of stdout and
    # json-parses them — the full record (queries_noop, extended map,
    # shuffle bytes, methodology) blew that window every round since
    # r05 ("parsed": null). So: the FULL record goes to a file next to
    # this script, and stdout gets ONE COMPACT line that carries the
    # contract fields ({"metric","value","unit","queries","sf"}) plus
    # the headline totals and a pointer to the full file.
    here = os.path.dirname(os.path.abspath(__file__))
    full_name = f"BENCH_FULL_sf{sf_label}.json"
    with open(os.path.join(here, full_name), "w") as f:
        json.dump(out, f, indent=1)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "value_noop": out["value_noop"],
        "unit": "sec",
        "sf": sf_label,
        "samples_per_query": samples,
        "layout": layout["mode"],
        "queries": out["queries"],
        "extended_total": out["extended_total"],
        "capstone_total": out["capstone_total"],
        "etl_rows_per_sec": out["etl_rows_per_sec"],
        "n_regressions": len(out["regressions"]),
        "full": full_name,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # never regress back into the unparseable state
        del compact["queries"]
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


def _regressions(out: dict) -> list[dict]:
    """Tripwire: flag any per-query noop time >2x its value in the most
    recent recorded BENCH_r{N}.json at the same sf, layout mode and
    ``cpus`` (a baseline without ``cpus`` is skipped), so a
    regression surfaces in the driver's own run without a judge diff.
    Informational — this host's co-tenant noise (16x swings recorded in
    BASELINE.md round 3) means a flag is a prompt to re-measure, not
    proof; but persistent flags across rounds are real. Sub-100ms
    queries are skipped (pure jitter at that scale)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def _round_of(p: str) -> int:
        m = re.search(r"_r(\d+)", p)
        return int(m.group(1)) if m else 0

    # Baseline sources, most-authoritative first: committed per-round
    # full snapshots (BENCH_FULL_r{N}_sf*.json, newest round first),
    # then the rolling BENCH_FULL_sf*.json (the previous completed run
    # at this sf — read BEFORE this run overwrites it), then the legacy
    # committed sf10 anchors, then driver-captured BENCH_r*.json (whose
    # "parsed" payload is full-format only for pre-r05 rounds).
    prior = (
        sorted(
            glob.glob(os.path.join(here, "BENCH_FULL_r*_sf*.json")),
            key=_round_of,
            reverse=True,
        )
        + sorted(glob.glob(os.path.join(here, "BENCH_FULL_sf*.json")))
        + sorted(
            glob.glob(os.path.join(here, "BENCH_r*_sf10.json")),
            key=_round_of,
            reverse=True,
        )
        + sorted(
            glob.glob(os.path.join(here, "BENCH_r[0-9]*.json")),
            key=_round_of,
            reverse=True,
        )
    )
    for path in prior:
        try:
            ref = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        if "parsed" in ref and "queries" not in ref:
            ref = ref["parsed"]
            if not ref or "queries_noop" not in ref:
                continue  # driver capture was truncated or compact-only
        if str(ref.get("sf")) != str(out["sf"]):
            continue
        ref_layout = ref.get("layout")
        ref_mode = (
            ref_layout.get("mode")
            if isinstance(ref_layout, dict)
            else ref_layout
        )
        if ref_mode != out["layout"]["mode"]:
            continue
        if ref.get("cpus") != out["cpus"]:
            continue
        flags = []
        for series in ("queries_noop", "extended_queries", "capstone_queries"):
            for name, sec in out.get(series, {}).items():
                base = ref.get(series, {}).get(name)
                if base is None and series == "capstone_queries":
                    # capstone entries lived inside extended_queries
                    # through r11 — compare across the series split
                    base = ref.get("extended_queries", {}).get(name)
                if base is not None and base >= 0.1 and sec > 2 * base:
                    flags.append(
                        {
                            "query": name,
                            "now_s": sec,
                            "baseline_s": base,
                            "baseline_file": os.path.basename(path),
                        }
                    )
        # Shuffle-BYTES tripwire (>=1.5x write bytes, floor 1 MiB): bytes
        # are layout-deterministic, so unlike the wall-time flags a bytes
        # flag is a real plan-shape change, not co-tenant noise.
        for name, sb in (out.get("shuffle_bytes") or {}).items():
            base = (ref.get("shuffle_bytes") or {}).get(name)
            if not sb or not base:
                continue
            if base["write"] >= 1 << 20 and sb["write"] > 1.5 * base["write"]:
                flags.append(
                    {
                        "query": name,
                        "now_shuffle_write_bytes": sb["write"],
                        "baseline_shuffle_write_bytes": base["write"],
                        "baseline_file": os.path.basename(path),
                    }
                )
        return flags
    return []


if __name__ == "__main__":
    main()
