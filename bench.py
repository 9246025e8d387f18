"""Benchmark runner — prints ONE JSON line for the driver.

Methodology matches BASELINE.md: warm JVM (session start + one warmup
action excluded), per-query untimed warmup repetition then 3 timed
repetitions of a .count() action split over two visits (HEADLINE and
EXTRA alike), sf from $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), local[$SPARK_GRAFT_CPUS]. `queries` carries the
per-query best (the noise floor on this drifting host);
`queries_best_median` carries [best, median] so the spread is visible.

Noise hardening (round 3): this host is oversubscribed — identical code
measured 3.985 s (BENCH_r01), 5.774 s (BENCH_r02), and 9.9-18.8 s in
ad-hoc round-3 runs, with nonzero steal time in /proc/stat. Two
mitigations: (a) the HEADLINE set is looped over TWICE with the
per-query global best kept, so a transient noise window cannot pin an
inflated number on whichever query it happened to hit; (b) the JSON
carries machine-calibration fields — `calib_1core_sec` (fixed pure-
Python loop) and `calib_spark_sec` (fixed synthetic shuffle on
spark.range, independent of this repo's query code) — so any run can be
compared to BASELINE.md's recorded calibration and normalized for host
drift.

Headline set = the BASELINE.md table (one per operator family) plus the
heavier LLM-extension operators, so regressions in any family move the
headline number.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q_agg_hash",
    "q_join_multi_5way",
    "q_window_rank",
    "q_pivot",
    "q_text_sentiment",
    "q_similarity_topk",
    "q_session_window",
    "q_flagship_etl",
]
EXTRA = [
    "q_scan_project",
    "q_dedup_tokenset",
    "q_stream_tumbling",
    "q_join_asof",
    # round-2 second-wave families (no BASELINE rows; 2x gate reads
    # against the closest-shape baseline query per BASELINE.md)
    "q_tfidf",
    "q_gapfill_locf",
    "q_graph_pagerank",
    # round-2 fourth-wave curation/ops families
    "q_quality_repetition",
    "q_dedup_containment",
    "q_interval_overlap",
    # round-3 wave: distributed linear algebra + real image decode
    "q_embed_covariance",
    "q_multimodal_decode",
    # round-4 wave: python tokenizer surface, one-pass resampling,
    # layout-dependent pruning
    "q_wordpiece_encode",
    "q_bootstrap_ci",
    "q_zonemap_prune",
    # round-5 wave: tokenizer training, PQ vector compression,
    # pointer-doubling components, color JPEG decode
    "q_bpe_train",
    "q_pq_encode",
    "q_graph_components",
    "q_multimodal_decode_color",
    "q_ivfpq_ann",
    "q_corpus_pipeline",
    # round-5 third wave: real WAV audio decode, progressive JPEG
    "q_audio_decode",
    "q_multimodal_decode_progressive",
    "q_video_framestats",
    # round-5 close wave: bucketed join layout, MMR rerank, PNG decode,
    # integer-exact audio DSP, two-pass cross-validation
    "q_join_bucketed",
    "q_mmr_rerank",
    "q_multimodal_decode_png",
    "q_audio_pitch",
    "q_crossval_ols",
    # round-5 fourth wave: exact-substring dedup, SemDeDup, Newton
    # logistic training, label-propagation communities
    "q_dedup_substring",
    "q_dedup_semdedup",
    "q_logistic_train",
    "q_graph_label_prop",
    # round-5 fifth wave: NMF topics, greedy coverage, DBSCAN
    "q_topic_nmf",
    "q_coverage_select",
    "q_dbscan",
    # round-5 eighth wave: heaviest members — iterative graph ops,
    # IRLS regression, exact split search, DTW pandas DP
    "q_graph_sssp",
    "q_huber_regression",
    "q_decision_stump",
    "q_dtw_distance",
    # round-6 wave: crawl front door (mixed-codec decompress, codegen
    # HTML strip), palette-PNG decode, per-shard sequence packing
    "q_text_decompress",
    "q_html_extract",
    "q_multimodal_decode_palette",
    "q_seq_packing",
    # round-7 wave: WARC record parsing + zstd (inside
    # q_text_decompress), A-law audio, and the four sketch-companion
    # checks (exact twin + bound booleans; the ANN one runs both the
    # IVF and brute-force arms)
    "q_warc_extract",
    "q_warcgz_extract",
    "q_warc_cdx_fetch",
    "q_http_dechunk",
    "q_audio_decode_alaw",
    "q_similarity_ann_check",
    "q_percentile_check",
    "q_hll_intersection_check",
    # round-8 wave: WET/WAT derivation (the heavy crawl-derive rows),
    # revisit dedup, and the codegen URL canonicalizer
    "q_wet_extract",
    "q_wat_extract",
    "q_warc_revisit",
    "q_url_canonicalize",
    # round-8 second wave: interchange formats (ZIP/Avro/GIF/protobuf/
    # CBOR/EXIF Arrow codec chains), corpus BLEU (gram join), snippet
    # windows, merge-on-read deletes
    "q_zip_extract",
    "q_avro_extract",
    "q_gif_decode",
    "q_protobuf_extract",
    "q_cbor_extract",
    "q_image_exif",
    "q_bleu",
    "q_snippet_extract",
    "q_deletion_vectors",
    # round-9 wave: lakehouse maintenance triad + spec evolution +
    # branch isolation, LSH banding planner, curriculum ordering,
    # parquet RLE/bit-packed codec. (q_stream_outer_join is NOT
    # benched — the stream-stream state machinery has a ~3 s fixed
    # floor like its never-benched inner sibling; q_tfidf_cosine_pairs
    # is NOT benched — the exact all-pairs verify is intrinsically
    # heavier than every baseline row; its scale story is the sf1.0
    # sparse-fixture measurement in SCALE.md, not a 2x-gate race)
    "q_time_travel_read",
    "q_vacuum_plan",
    "q_hilbert_recluster",
    "q_partition_evolution",
    "q_wap_branch",
    "q_minhash_band_tuning",
    "q_curriculum_order",
    "q_rle_bitpack",
    "q_delta_binary_packed",
    "q_dedup_incremental",
    "q_cep_pattern",
    "q_proximity_rank",
    # round-10 wave: MERGE materialization (keyed full-outer join),
    # OPTIMIZE bin-packing (manifest-sized window), field-id schema
    # evolution reads (pure codegen rollup)
    "q_merge_upsert",
    "q_optimize_binpack",
    "q_schema_evolution_read",
    "q_late_arriving_dim",
    "q_pii_redaction",
    "q_chunk_overlap",
    "q_rrf_fusion",
    "q_span_corruption",
    "q_negative_sampling",
    "q_cohens_kappa",
    "q_entity_resolution",
    "q_consistent_hash_reshard",
    "q_temporal_decay",
    "q_sorted_neighborhood",
    # round-11 wave
    "q_er_clusters",
    "q_cms_heavy_hitters",
    "q_quantile_sketch_merge",
    "q_parquet_footer_stats",
    "q_wer_cer",
    "q_view_maintenance",
    "q_fifo_allocation",
    "q_skyline_grouped",
    "q_reciprocal_best",
]


def calib_1core() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i * i
    return round(time.perf_counter() - t0, 3)


def calib_spark(spark) -> float:
    """Fixed synthetic scan+shuffle+agg, independent of repo query code."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(20_000_000)
              .selectExpr("id % 1000 AS k", "id AS v")
              .groupBy("k").sum("v").count())
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def qbf_tokens(stats: dict[str, list[float]], div: int) -> str:
    """Front-code {"q_<name>": [best, median]} as the FINAL line's qbf
    string (see main): one token per row, sorted by name, each a base-36
    common-prefix length with the previous name, the name's suffix and
    ':best' in integer centiseconds (div=1) or deciseconds (div=10),
    rounded to nearest."""
    toks, prev = [], ""
    for name in sorted(q[2:] for q in stats):
        lcp = 0
        while (lcp < min(len(prev), len(name), 35)
               and prev[lcp] == name[lcp]):
            lcp += 1
        v = round(stats["q_" + name][0] * 100 / div)
        toks.append(
            f"{'0123456789abcdefghijklmnopqrstuvwxyz'[lcp]}"
            f"{name[lcp:]}:{v}")
        prev = name
    return " ".join(toks)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    from challenge8_movies_etl_spark.registry import QUERIES, load_all
    from challenge8_movies_etl_spark.session import get_spark

    load_all()
    # iteration aid: SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the run
    # to those rows (the driver never sets it; full run is the default)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = set(only.split(","))
        global HEADLINE, EXTRA
        HEADLINE = [q for q in HEADLINE if q in keep]
        EXTRA = [q for q in EXTRA if q in keep]
    spark = get_spark("bench")
    # warmup: exercise scan + shuffle + python-worker paths once
    QUERIES["q_agg_hash"](spark, sf_dir).count()

    samples: dict[str, list[float]] = {}

    def measure(qid: str, reps: int) -> None:
        # Cache hygiene (optimization round r12, guide §1.4/§5): Spark's
        # CacheManager substitutes cached fragments by canonicalized-plan
        # match, so without this a timed rep of any query that persist()s
        # an intermediate would read the UNTIMED warmup rep's
        # InMemoryRelation instead of computing from parquet. Clearing
        # before every rep makes each timed rep pay its own cache fill —
        # numbers for persist-using queries are honestly higher than
        # rounds ≤ 11 (methodology change declared in OPTIMIZATION_r12.md;
        # both-methodology session-start artifacts committed).
        q = QUERIES[qid]
        if qid not in samples:
            spark.catalog.clearCache()
            q(spark, sf_dir).count()  # untimed per-query warmup
            samples[qid] = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            q(spark, sf_dir).count()
            samples[qid].append(time.perf_counter() - t0)

    c1 = calib_1core()
    cs = calib_spark(spark)
    # Two visits per query (HEADLINE and EXTRA alike): a transient
    # host-noise window can only inflate a query if it spans BOTH.
    for qid in HEADLINE:
        measure(qid, 2)
    for qid in EXTRA:
        measure(qid, 2)
    for qid in HEADLINE:
        measure(qid, 1)
    for qid in EXTRA:
        measure(qid, 1)
    c1_end = calib_1core()
    cs_end = calib_spark(spark)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    timings = {q: round(min(t), 3) for q, t in samples.items()}
    # per-query [best, median] across all 3 timed reps — the spread is
    # the host-noise error bar (BASELINE.md gates read the median;
    # best is the noise floor)
    stats = {q: [round(min(t), 3), round(median(t), 3)]
             for q, t in samples.items()}
    total = round(sum(timings[q] for q in HEADLINE), 3)
    calib1 = min(c1, c1_end)
    calibs = min(cs, cs_end)
    # Line 1: the FULL payload (repo artifacts + gates.py read this).
    print(json.dumps({
        "metric": "headline_total_best_of_3",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_best_median": stats,
        "sf": sf,
        "calib_1core_sec": calib1,
        "calib_spark_sec": calibs,
        "calib_note": "see BASELINE.md 'Calibration' — normalize vs recorded values on host drift",
    }))
    # Line 2 (LAST, compact): the driver's tail capture keeps only the
    # final 2000 chars of stdout, so the full line above got truncated
    # to "parsed": null in BENCH_r05.json once the registry outgrew it.
    # This second line must let gates.py evaluate EVERY benched row
    # from the driver file alone (VERDICT r7 item 5 — r7's compact
    # line carried only 12/60 rows), so best/median pairs are packed
    # into one space-separated string, 'q_' prefix stripped:
    # "agg_hash:0.375:0.415 ...". 3 decimals, dropping to 2 if the
    # line would outgrow the 2000-char tail budget.
    def qbm_line(dp: int) -> str:
        packed = " ".join(
            f"{q[2:] if q.startswith('q_') else q}"
            f":{best:.{dp}f}:{med:.{dp}f}"
            for q, (best, med) in stats.items())
        return json.dumps({
            "metric": "headline_total_best_of_3",
            "value": total,
            "unit": "sec",
            "qbm": packed,
            "sf": sf,
            "calib_spark_sec": calibs,
            "compact": True,
            "n_benched": len(timings),
        }, separators=(",", ":"))
    line = qbm_line(3)
    if len(line) > 1900:
        line = qbm_line(2)
    print(line)
    # Line 3 (headline-8 best/median + calibration, ~430 chars): the
    # r9 registry outgrew the compact qbm line (85 rows ≈ 2,200 chars)
    # and the driver's last-2000-chars capture cut its START — losing
    # the '"qbm":"' marker and the 8 §2 headline rows (VERDICT r9
    # item 1). Kept as the penultimate line for shape-compat with the
    # r10/r11 artifacts; the new FINAL line below supersedes it as the
    # whole-registry record.
    print(json.dumps({
        "metric": "headline_total_best_of_3",
        "value": total,
        "unit": "sec",
        "gate8": " ".join(
            f"{q[2:]}:{stats[q][0]:.3f}:{stats[q][1]:.3f}"
            for q in HEADLINE if q in stats),
        "sf": sf,
        "calib_spark_sec": calibs,
        "compact": True,
        "final": True,
        "n_benched": len(timings),
    }, separators=(",", ":")))
    # Line 4 (FINAL, guaranteed short, ALL rows — VERDICT r11 item 2):
    # at 108 benched rows even best-only plain packing
    # ("name:centisec " per row) is ~2,100 chars — the stripped names
    # alone sum to ~1,530 — so NO plain-token format can carry the
    # whole registry inside the driver's 2000-char tail. Front-coding
    # fixes it losslessly: rows sort by name and each token starts
    # with one base-36 char giving the longest-common-prefix length
    # with the PREVIOUS name, then the suffix, then ':best' in integer
    # centiseconds ("0agg_hash:41 8stats:12 ..."), ~1,950 chars with
    # envelope at 108 rows. tools/gates.py decodes it (median falls
    # back to best for rows only this line carries — the full
    # best/median record stays on lines 1-2 and in the committed
    # BENCH_r*_local.json artifacts). If values outgrow the budget the
    # encoding drops to integer deciseconds and says so via "qv".
    def qbf_line(div: int, qv: str) -> str:
        return json.dumps({
            "metric": "headline_total_best_of_3",
            "value": total,
            "unit": "sec",
            "qbf": qbf_tokens(stats, div),
            "qv": qv,
            "sf": sf,
            "calib_spark_sec": calibs,
            "compact": True,
            "final": True,
            "n_benched": len(timings),
        }, separators=(",", ":"))
    fline = qbf_line(1, "cs")
    if len(fline) > 1985:
        fline = qbf_line(10, "ds")
    if len(fline) <= 1985:
        print(fline)
    # else: the registry outgrew even the front-coded format — print
    # nothing after the gate8 line so the LAST line stays a complete,
    # parseable JSON record (a front-truncated qbf line would lose its
    # prefix chain and decode to garbage).


if __name__ == "__main__":
    main()
