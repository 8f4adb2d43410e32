"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. The LAST stdout line is the compact contract
JSON (metric/value/unit/queries/sf — sized to survive the driver's
2000-char tail capture); the FULL record (every query's best-of-2 +
both laps + group totals) is written to bench_details.json beside this
file, where the round commit preserves it.

Each query is forced through the `noop` sink — a full materialization of
every output column (a bare .count() would let Catalyst prune the
expensive projections and flatter us).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metadata_enhanced_pretrain_datapipeline_spark import queries as q
from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark

#: headline set: one per workload family — scan+regex (pii/flagship),
#: shuffle joins (multiway/asof), window (session), dedup (exact text,
#: minhash-lsh), vector (topk), pandas-udf (mlp), stateful fold (packing).
HEADLINE = [
    "q_flagship",
    "q_join_multiway",
    "q_pii_scrub",
    "q_dedup_exact_text",
    "q_minhash_lsh_pairs",
    "q_event_window_agg",
    "q_session_window",
    "q_asof_event_join",
    "q_embedding_topk",
    "q_mlp_quality_filter",
    "q_pack_sequences",
    "q_token_sum",
    "q_tpch_q1",
    "q_tpch_q3",
    # r3 additions: decontamination (broadcast n-gram join) and
    # cross-doc boilerplate removal (explode/anti-join/regroup)
    "q_contamination_hits",
    "q_boilerplate_removal",
]

#: round-3 operator families, benched since r4 (VERDICT r3 #2). Kept in a
#: SEPARATE group so `value`/headline_total stays the sum of the original
#: HEADLINE set and remains comparable across rounds; these get their own
#: `r3_families_total`. Covers: composed mix pipeline (dedup→decontam→
#: gate→mix→cap), iterative connected components (pointer doubling),
#: bucketed token-budget window, binned range join, salted skew join,
#: bigram LM scoring.
R3_FAMILIES = [
    "q_mix_pipeline",
    "q_duplicate_clusters",
    "q_token_budget_cap",
    "q_range_join",
    "q_salted_join",
    "q_char_lm_score",
]

#: round-4 additions, priced from the round they land (same rationale):
#: substring-level corpus dedup, the CCNet perplexity partition, the
#: deepest TPC-H dim chain (q8) and decorrelated double-EXISTS (q21),
#: segment-level dedup (explode→min→reassemble), the bloom-prefiltered
#: anti-join, TF-IDF (token explode + vocab broadcasts + rank window),
#: and the collapsed five-function window suite.
R4_ADDITIONS = [
    "q_repeated_ngram_excise",
    "q_perplexity_buckets",
    "q_tpch_q8",
    "q_tpch_q21",
    "q_segment_dedup",
    "q_bloom_dedup",
    "q_tfidf_top_terms",
    "q_window_suite",
    # late-round families: snapshot diffing (full-outer digest join),
    # the weights-as-literals MLP scoring path, real-codec roundtrip
    "q_snapshot_diff",
    "q_mlp_score_oracle",
    "q_bmp_roundtrip",
]

#: round-5 additions (same rationale): cluster-coherent train/val/test
#: split (pairs -> pointer-doubling components -> hash assignment),
#: per-host cap (bucketed two-phase with unit counts), and the A6/A7
#: digest-twin annotator paths (mapInPandas + executor singleton).
R5_ADDITIONS = [
    "q_leakage_safe_split",
    "q_per_host_cap",
    "q_fasttext_label_oracle",
    "q_hf_classifier_oracle",
    "q_multi_benchmark_contamination",
    "q_minhash_dedup_against",
]

#: round-6 additions (same rationale): the on-disk band store probe
#: (write partitioned → read pruned → dedup against it) and the composed
#: monthly-snapshot chain (exact dedup → store fuzzy dedup →
#: leakage-safe split). q_mix_pipeline's host-cap + split extension is
#: priced in place under R3_FAMILIES.
R6_ADDITIONS = [
    "q_band_store_pruned_probe",
    "q_band_store_colocated_probe",
    "q_snapshot_pipeline",
    "q_bucketed_join_noshuffle",
    "q_dynamic_partition_prune",
    "q_line_dedup_within_doc",
    "q_simhash_pairs",
]

#: round-7 additions (same rationale): the PNG codec roundtrip, the
#: band-store compaction lifecycle, the scalable within-key rank and
#: full window suite (the q_window_suite parallelism-cap mitigations),
#: the runtime bloom-filter join pushdown probe, BM25 retrieval, and
#: embedding-space semantic dedup.
R7_ADDITIONS = [
    "q_png_roundtrip",
    "q_band_store_compact",
    "q_keyed_rank",
    "q_keyed_window_suite",
    "q_runtime_bloom_filter",
    "q_bm25_topk",
    "q_semantic_dedup",
    "q_simhash_dedup",
    "q_dedup_keep_best",
    "q_quantized_topk",
    "q_dsir_top_n",
    "q_dsir_sample",
    "q_quantized_store_probe",
]

#: round-8 additions (same rationale): the composed production ANN
#: store (IVF directories of int8 codes — write, probe, two-stage
#: re-rank, latest-wins compaction), semantic dedup's large-corpus
#: nearest-centroid bucketing branch, hybrid BM25+ANN RRF retrieval,
#: and the cluster-balanced mix downsample.
R8_ADDITIONS = [
    "q_ivf_quantized_probe",
    "q_ivf_quantized_rerank",
    "q_ivf_store_compact",
    "q_semantic_dedup_ivf",
    "q_hybrid_rrf",
    "q_cluster_balanced_sample",
    "q_unimax_sample",
    "q_stream_ivf_append",
    "q_hard_negative_mine",
    "q_hard_negative_mine_bucketed",
]

#: round-9 additions (same rationale): perceptual-hash visual near-dup
#: (real codec decode → dHash → Manku hamming pairs) and the composed
#: corpus lifecycle (band-store dedup months + compaction feeding the
#: streamed+compacted IVF retrieval store, probed end to end).
R9_ADDITIONS = [
    "q_image_near_dup",
    "q_image_dedup_against",
    "q_corpus_lifecycle",
    "q_video_near_dup",
    "q_semantic_decontam",
    "q_semantic_decontam_ivf",
    "q_audio_near_dup",
    "q_token_dedup_against",
    "q_containment_pairs",
    "q_video_containment",
    "q_pq_adc_topk",
    "q_ivfpq_probe",
    "q_weighted_sample_per_group",
    "q_doremi_mix",
    "q_bitext_mine",
    "q_ngram_novelty",
    "q_rp_topk",
    "q_curation_v2",
    "q_stream_image_dedup",
    "q_paragraph_semantic_dedup",
    "q_semantic_dedup_against",
    "q_token_balanced_shards",
]

#: round-10 additions: the production-shaped twins of the
#: fixture-quadratic near-dup queries (VERDICT r9 #3) — deployed bucket
#: caps + corpus-varied content, so the per-round bench prices the
#: config users run, not just the oracle-complete fixture.
R10_ADDITIONS = [
    "q_image_near_dup_capped",
    "q_audio_near_dup_capped",
    "q_semantic_dedup_against_prod",
    # late-r10: crawl-source family (WET parse roundtrip, HTML text
    # extraction), the Gopher n-gram repetition signals, and the
    # against-store guard's visibility stats
    "q_wet_roundtrip",
    "q_html_extract",
    "q_ngram_repetition",
    "q_overcap_stats",
    # DCT perceptual hash: the rescale-robust visual near-dup twin
    # (real codec decode → integer-exact 8x8 DCT → Manku hamming pairs)
    "q_image_phash_near_dup",
    # winnowing (MOSS): localized fingerprints + count-gated overlap pairs
    "q_winnow_fingerprints",
    "q_winnow_overlap",
    "q_winnow_dedup_against",
    # document-level Gopher quality rules + composed keep decision
    "q_gopher_quality",
    # streaming fingerprint-store ingestion (the winnow member)
    "q_stream_winnow_dedup",
    # letterbox-robust pHash (strip uniform bars between decode and hash)
    "q_image_phash_letterbox",
    # unicode-script routing + the LSH S-curve parameter table
    "q_script_detect",
    "q_lsh_calibration",
    # corpus accounting: per-lang tokenizer fertility + the
    # quality-threshold retention sweep (one pass, 20 gates)
    "q_token_fertility",
    "q_quality_retention_curve",
    # encoding health: mojibake signature scan + gated cp1252→UTF-8 repair
    "q_mojibake_scan",
    "q_mojibake_repair",
    # edit-distance near-dup: LSH candidates + thresholded-Levenshtein verify
    "q_edit_distance_near_dup",
    # Count-Min sketch: corpus collapses map-side to 4x64 cells; estimates
    # for the 20 true-heaviest tokens hash-checked beside exact counts
    "q_countmin_heavy",
    # Luhn-gated card-number PII (validation-gated masking, pure codegen)
    "q_pii_luhn",
    "q_pii_cc_scrub",
]


#: round-11 additions: the composed crawl front door (WARC response
#: records -> HTTP body -> HTML extract -> mojibake repair -> Gopher
#: keep -> PII -> exact + MinHash dedup in one plan).
R11_ADDITIONS = [
    "q_crawl_to_corpus",
    # baseline JPEG codec roundtrip (the real-crawl image format)
    "q_jpeg_roundtrip",
    # the crawl front door as continuous ingestion (binaryFile stream,
    # exactly-once file sink, splice-time dedup; batch-parity oracle)
    "q_stream_crawl_ingest",
    # readability-style main-content extraction (link-density blocks)
    "q_main_content",
]

#: fixed clean-window reference bests (sf0.1) for CONTROL queries
#: untouched since round 1 — the medians of the r1/r3/r5/r6/r7 driver
#: records (the clean windows; r2/r10 were degraded). The bench reports
#: control_factor = geometric mean of current/reference: ~1.0 in a
#: clean window, 2x+ flags a degraded host (the r10 record ran at
#: ~2.4x). Cross-round comparison should divide by it instead of
#: depending on host luck (VERDICT r10 #3).
CONTROLS = {
    "q_flagship": 0.795,
    "q_join_multiway": 1.007,
    "q_tpch_q3": 0.622,
}


def control_factor(timings: dict[str, float], sf: float) -> float | None:
    """Geometric mean of control-query best / clean-window reference.
    Only meaningful at the reference scale (sf0.1)."""
    import math

    if abs(sf - 0.1) > 1e-9 or any(n not in timings for n in CONTROLS):
        return None
    logs = [math.log(max(timings[n], 1e-9) / ref)
            for n, ref in CONTROLS.items()]
    return round(math.exp(sum(logs) / len(logs)), 2)


def timed_laps(run) -> list[float]:
    """THE measurement protocol: one warm lap (JIT + IO cache), then two
    timed laps. The A/B adjudications and store economics recorded in
    SCALE.md were timed with it. Callers take min(laps) for best-of-2."""
    run()
    laps = []
    for _ in range(2):
        t0 = time.time()
        run()
        laps.append(round(time.time() - t0, 3))
    return laps


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except (ValueError, IndexError):
        sf = -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.all_queries()

    timings: dict[str, float] = {}
    all_laps: dict[str, list[float]] = {}
    for name in (HEADLINE + R3_FAMILIES + R4_ADDITIONS + R5_ADDITIONS
                 + R6_ADDITIONS + R7_ADDITIONS + R8_ADDITIONS
                 + R9_ADDITIONS + R10_ADDITIONS + R11_ADDITIONS):
        fn = registry[name]
        laps = timed_laps(
            lambda: fn(spark, sf_dir).write.format("noop")
            .mode("overwrite").save()
        )
        timings[name] = min(laps)  # best-of-2: steady-state, resistant
        # to transient host noise between rounds
        all_laps[name] = laps  # both laps recorded: lap spread makes noise
        # vs regression decidable from the artifact alone

    total = round(sum(timings[n] for n in HEADLINE), 3)
    groups = {
        "r3_families_total": R3_FAMILIES,
        "r4_additions_total": R4_ADDITIONS,
        "r5_additions_total": R5_ADDITIONS,
        "r6_additions_total": R6_ADDITIONS,
        "r7_additions_total": R7_ADDITIONS,
        "r8_additions_total": R8_ADDITIONS,
        "r9_additions_total": R9_ADDITIONS,
        "r10_additions_total": R10_ADDITIONS,
        "r11_additions_total": R11_ADDITIONS,
    }
    group_totals = {
        k: round(sum(timings[n] for n in names), 3)
        for k, names in groups.items()
    }
    # The driver records only the LAST 2000 chars of stdout (BENCH_r09's
    # tail began mid-dict and parsed=null — VERDICT r9 #2; same failure
    # as r4's fat line). The full record (per-query bests + both laps +
    # group totals) therefore goes to bench_details.json ON DISK, where
    # the round commit preserves it; stdout's final line is the compact
    # driver contract alone — headline per-query bests + group totals,
    # compact separators, well under the 2000-char capture window.
    cf = control_factor(timings, sf)
    details = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "control_factor": cf,
        "queries": timings,
        "laps": all_laps,
        **group_totals,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_details.json"), "w"
    ) as f:
        json.dump(details, f, indent=1, sort_keys=True)
    contract = {
        "metric": "headline_total",
        "value": total,  # original HEADLINE only: cross-round comparable
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE},
        "sf": sf,
        "control_factor": cf,  # host-window normalizer, ~1.0 when clean
        "details": "bench_details.json",  # full per-query bests + laps
        **group_totals,
    }
    line = json.dumps(contract, separators=(",", ":"))
    assert len(line) < 1900, (
        f"contract line {len(line)} chars would overflow the driver's "
        "2000-char tail capture; trim the headline set or group totals"
    )
    print(line)


if __name__ == "__main__":
    main()
