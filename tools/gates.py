"""Read a BENCH_r{N}.json against BASELINE.md's gates, normalized for
host drift via the calibration fields.

Usage: python tools/gates.py BENCH_r04.json [--strict-best]

For each benched query: find its baseline (own table row, like-for-like
round-4 row, or closest-shape mapping), scale the baseline by
k = calib_spark_sec / CALIB_REF (host slower than calibration ⇒ gates
loosen proportionally; faster hosts do NOT tighten them, min k = 1),
and report the median-vs-gate ratio (best shown as the noise floor).
Exit 1 if any query breaches 2x its normalized gate.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

CALIB_REF = 0.252  # BASELINE.md Calibration: calib_spark_sec at baseline

# BASELINE.md explicit rows (best-of-3 seconds at sf0.1, calibration
# parity). Like-for-like round-4 rows included.
BASELINES = {
    "q_agg_hash": 1.04,
    "q_join_multi_5way": 2.30,
    "q_window_rank": 0.44,
    "q_pivot": 0.22,
    "q_text_sentiment": 0.26,
    "q_similarity_topk": 0.53,
    "q_session_window": 0.65,
    "q_flagship_etl": 0.76,        # shipped-scope re-measure (round 2)
    "q_dedup_containment": 4.49,   # like-for-like co-count row (round 4)
    "q_graph_pagerank": 3.09,      # solo-at-parity row (round 4)
    "q_multimodal_decode": 0.56,   # like-for-like Arrow-decode row (r4)
    "q_mmr_rerank": 1.30,          # like-for-like skeleton row (r5)
}

# closest-shape mapping for everything else (BASELINE.md gate text)
SHAPE = {
    "q_scan_project": "q_agg_hash",
    "q_dedup_tokenset": "q_join_multi_5way",
    "q_stream_tumbling": "q_agg_hash",
    "q_join_asof": "q_join_multi_5way",
    "q_tfidf": "q_join_multi_5way",
    "q_gapfill_locf": "q_window_rank",
    "q_quality_repetition": "q_text_sentiment",
    "q_interval_overlap": "q_join_multi_5way",
    "q_embed_covariance": "q_agg_hash",
    "q_wordpiece_encode": "q_text_sentiment",
    "q_bootstrap_ci": "q_agg_hash",
    "q_zonemap_prune": "q_agg_hash",
    # round-5 additions
    "q_bpe_train": "q_join_multi_5way",        # iterative shuffle chain
    "q_pq_encode": "q_multimodal_decode",      # Arrow python kernel
    "q_graph_components": "q_graph_pagerank",  # iterative joins
    "q_multimodal_decode_color": "q_multimodal_decode",
    "q_ivfpq_ann": "q_multimodal_decode",      # Arrow kernel + topk
    "q_corpus_pipeline": "q_join_multi_5way",  # multi-stage funnel
    "q_audio_decode": "q_multimodal_decode",   # Arrow python decode
    "q_multimodal_decode_progressive": "q_multimodal_decode",
    "q_video_framestats": "q_multimodal_decode",  # Arrow Y4M decode
    # round-5 close wave
    "q_join_bucketed": "q_join_multi_5way",    # write + co-located SMJ
    "q_multimodal_decode_png": "q_multimodal_decode",
    "q_audio_pitch": "q_multimodal_decode",    # Arrow decode + int DSP
    "q_crossval_ols": "q_agg_hash",            # two-pass sufficient stats
    # round-5 fourth wave
    "q_dedup_substring": "q_join_multi_5way",  # gram group + semi-join
    "q_dedup_semdedup": "q_join_multi_5way",   # cluster-blocked pairs
    "q_logistic_train": "q_graph_pagerank",    # fixed-iteration passes
    "q_graph_label_prop": "q_graph_pagerank",  # iterative joins
    "q_topic_nmf": "q_graph_pagerank",         # iterative factor joins
    "q_coverage_select": "q_graph_pagerank",   # greedy driver rounds
    "q_dbscan": "q_dedup_containment",         # blocked pair pass
    # round-5 eighth wave
    "q_graph_sssp": "q_graph_pagerank",        # iterative relax joins
    "q_huber_regression": "q_graph_pagerank",  # fixed-iteration passes
    "q_decision_stump": "q_join_multi_5way",   # unpivot + windows
    "q_dtw_distance": "q_multimodal_decode",   # pandas DP kernel
    # round-6 wave
    "q_text_decompress": "q_multimodal_decode",  # Arrow python codecs
    "q_html_extract": "q_text_sentiment",        # codegen regex chain
    "q_multimodal_decode_palette": "q_multimodal_decode",
    "q_seq_packing": "q_multimodal_decode",      # shard applyInPandas
    # round-7 wave
    "q_warc_extract": "q_multimodal_decode",     # Arrow python parse
    "q_warcgz_extract": "q_multimodal_decode",   # gzip member walk
    "q_warc_cdx_fetch": "q_multimodal_decode",   # index + slice fetch
    "q_http_dechunk": "q_multimodal_decode",     # 3-layer record stack
    "q_audio_decode_alaw": "q_multimodal_decode",
    # ann_check chains ~8 small stages (centroid pick -> decimal
    # assignment -> cell rank -> candidate scan -> two top-k arms
    # -> check join); at sf0.1 its cost is stage-count overhead,
    # not data volume (measured: the decimal assignment and its
    # codegen-fast twin both ~2s cold) - the iterative-stage
    # profile pagerank's gate represents, not single-arm topk
    "q_similarity_ann_check": "q_graph_pagerank",
    "q_percentile_check": "q_agg_hash",          # two percentile aggs
    "q_hll_intersection_check": "q_join_multi_5way",  # distinct join
    # round-8 wave: pack → HTTP frame → derive → re-walk, all python
    # codec-ladder work like the multimodal decode stack
    "q_wet_extract": "q_multimodal_decode",
    "q_wat_extract": "q_multimodal_decode",
    "q_warc_revisit": "q_multimodal_decode",
    "q_url_canonicalize": "q_window_rank",  # codegen chain + window
    # round-8 second wave: Arrow codec chains share the multimodal
    # decode profile; BLEU is a gram-keyed join like the dedup family;
    # snippets are one window pass; deletion vectors a broadcast
    # anti-join + agg
    "q_zip_extract": "q_multimodal_decode",
    "q_avro_extract": "q_multimodal_decode",
    "q_gif_decode": "q_multimodal_decode",
    "q_protobuf_extract": "q_multimodal_decode",
    "q_cbor_extract": "q_multimodal_decode",
    "q_image_exif": "q_multimodal_decode",
    "q_bleu": "q_join_multi_5way",
    "q_snippet_extract": "q_window_rank",
    "q_deletion_vectors": "q_agg_hash",
    # round-9 wave: lakehouse maintenance is broadcast joins + rollups
    # (agg-shaped); spec evolution is a pure codegen rollup; the
    # prefix-filtered all-pairs and the banding planner are
    # posting-join shaped; the outer stream-stream join carries the
    # stateful-join profile of the session-window row
    "q_time_travel_read": "q_agg_hash",
    "q_vacuum_plan": "q_agg_hash",
    "q_hilbert_recluster": "q_agg_hash",
    "q_partition_evolution": "q_agg_hash",
    "q_wap_branch": "q_agg_hash",
    "q_minhash_band_tuning": "q_join_multi_5way",
    "q_curriculum_order": "q_window_rank",
    "q_rle_bitpack": "q_multimodal_decode",
    "q_delta_binary_packed": "q_multimodal_decode",
    # portable-md5 minhash probe + exact verify: the co-count dedup
    # profile (measured 6.6-6.9 s warm at sf0.1 vs the 8.98 gate)
    "q_dedup_incremental": "q_dedup_containment",
    "q_cep_pattern": "q_agg_hash",
    "q_proximity_rank": "q_join_multi_5way",
    # round-10 wave: MERGE is one keyed full-outer shuffle join
    # (5way-join profile); bin-packing and schema-evolution reads are
    # agg-shaped rollups
    "q_merge_upsert": "q_join_multi_5way",
    "q_optimize_binpack": "q_agg_hash",
    "q_schema_evolution_read": "q_agg_hash",
    "q_late_arriving_dim": "q_agg_hash",
    "q_pii_redaction": "q_text_sentiment",
    "q_chunk_overlap": "q_agg_hash",
    "q_rrf_fusion": "q_window_rank",
    "q_span_corruption": "q_text_sentiment",
    "q_negative_sampling": "q_text_sentiment",
    "q_cohens_kappa": "q_agg_hash",
    "q_entity_resolution": "q_join_multi_5way",
    "q_consistent_hash_reshard": "q_agg_hash",
    "q_temporal_decay": "q_agg_hash",
    "q_sorted_neighborhood": "q_join_multi_5way",
    # round-11 wave: ER clusters run iterative component joins
    # (pagerank profile); the two sketches are agg-shaped rollups;
    # footer stats is a controlled write + metadata walk (decode
    # profile is the closest Arrow-python-task shape)
    "q_er_clusters": "q_graph_pagerank",
    "q_cms_heavy_hitters": "q_agg_hash",
    "q_quantile_sketch_merge": "q_agg_hash",
    # footer stats is a controlled distributed WRITE + second-pass
    # binaryFile metadata read — the flagship ETL's write-then-serve
    # profile, not a pure Arrow decode
    "q_parquet_footer_stats": "q_flagship_etl",
    # per-row bounded quadratic string DP + rollup: the q_dtw_distance
    # DP-kernel precedent, not a dictionary-join sentiment pass
    "q_wer_cer": "q_multimodal_decode",
    "q_view_maintenance": "q_agg_hash",  # two grouped aggs + tiny merge
    "q_fifo_allocation": "q_join_multi_5way",  # keyed range join
    "q_skyline_grouped": "q_window_rank",  # one keyed sort, two windows
    "q_reciprocal_best": "q_join_multi_5way",  # blocked rank-1 joins
}


def _qbm_tokens(payload: dict) -> list[str]:
    """Normalize any recovered bench payload to compact qbm tokens
    (`name:best:median`, 'q_' prefix stripped) so the finals-merge can
    widen coverage regardless of which shape survived the tail."""
    if "qbm" in payload:
        return str(payload["qbm"]).split()
    bm = payload.get("queries_best_median") or {
        q: [v, v] for q, v in payload.get("queries", {}).items()}
    return [f"{q[2:] if q.startswith('q_') else q}:{b}:{m}"
            for q, (b, m) in bm.items()]


_B36 = "0123456789abcdefghijklmnopqrstuvwxyz"


def _decode_qbf(payload: dict) -> dict[str, list[float]]:
    """Decode bench.py's r12 front-coded FINAL line: rows sorted by
    stripped name, each token = <base36 lcp-with-previous-name char>
    <name suffix>:<best as integer centiseconds ("qv":"cs") or
    deciseconds ("ds")>. Best-only by design (the full best/median
    record is on bench stdout lines 1-2, which outgrow the driver's
    2000-char tail at 108 rows); median falls back to best here and is
    overridden wherever a richer source survived the tail.

    Raises ValueError at a damaged token: every later name is
    front-coded against it, so the rest of the chain cannot be
    decoded."""
    mul = 0.1 if payload.get("qv") == "ds" else 0.01
    stats: dict[str, list[float]] = {}
    prev = ""
    for tok in str(payload["qbf"]).split():
        head, _, v = tok.rpartition(":")
        lcp = _B36.find(head[:1]) if head else -1
        if lcp < 0 or lcp > len(prev) or not v.isdigit():
            raise ValueError(f"damaged qbf token {tok!r} after "
                             f"{'q_' + prev if prev else 'the start'}")
        name = prev[:lcp] + head[1:]
        sec = round(int(v) * mul, 3)
        stats["q_" + name] = [sec, sec]
        prev = name
    return stats


def main() -> int:
    if len(sys.argv) > 1 and not sys.argv[1].startswith("--"):
        path = Path(sys.argv[1])
    else:
        # bare invocation: latest BENCH_r*.json by ROUND NUMBER, with
        # mtime as tiebreak only — a checkout or driver rewrite gives
        # every round file the same mtime, under which a pure-mtime
        # pick resolved to round 3 and reported its long-fixed breach
        # (same failure class as the ADVICE r7 / VERDICT r7 item-4
        # hard-coded default)
        def round_no(p: Path) -> int:
            m = re.search(r"BENCH_r(\d+)", p.name)
            return int(m.group(1)) if m else -1

        cands = sorted(Path(".").glob("BENCH_r*.json"),
                       key=lambda p: (round_no(p), p.stat().st_mtime))
        if not cands:
            print("ERROR: no BENCH_r*.json found")
            return 2
        path = cands[-1]
        print(f"(defaulting to newest bench file: {path})")
    use_best = "--strict-best" in sys.argv
    outer = json.loads(path.read_text())
    # Driver BENCH_r{N}.json wraps the bench stdout under "parsed" —
    # which is sometimes literally null (r5: the single JSON line
    # outgrew the driver's 2000-char tail capture), so `or outer`, then
    # fall back to recovering the last complete JSON line from the
    # captured tail (bench.py prints a compact summary line LAST for
    # exactly this reason).
    b = outer.get("parsed") or outer
    finals = None
    qbf_payload = None
    best_only: set[str] = set()  # rows whose median is the qbf best
    if "qbf" in b:
        # r12 FINAL line (front-coded, all benched rows, best-only)
        # was the parsed payload; keep the outer dict active so its
        # tail can still contribute real medians below.
        qbf_payload = b
        b = outer
    if "queries" not in b and "qbm" not in b and "gate8" in b:
        # r10 artifact shape (VERDICT r10 item 1): `parsed` IS the
        # guaranteed-short FINAL line (gate8 + headline, no qbm).
        # Keep it as the authoritative finals and go back to the
        # OUTER dict so its `tail` can still widen coverage with
        # harvested qbm tokens.
        finals = b
        b = outer
    if "queries" not in b and "qbm" not in b and "tail" in b:
        recovered = None
        for line in str(b["tail"]).splitlines():
            line = line.strip()
            if line.startswith("{") and line.endswith("}"):
                try:
                    cand = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ("queries" in cand or "qbm" in cand
                        or "queries_best_median" in cand):
                    recovered = cand
                elif "qbf" in cand and qbf_payload is None:
                    # r12 front-coded FINAL line found whole in the
                    # tail (it is sized to always survive the capture)
                    qbf_payload = cand
                elif "gate8" in cand and finals is None:
                    # bench.py's guaranteed-short FINAL line (r9 fix):
                    # headline-8 rows + calib always survive the
                    # driver's 2000-char tail capture whole
                    finals = cand
        tail = str(b["tail"])
        if recovered is None:
            # The tail truncated the qbm line's START (r5, r9): the
            # '"qbm":"' marker is gone but the line's surviving middle
            # still holds complete space-separated name:best:median
            # tokens — harvest them whole (a front-clipped partial
            # token is rejected by requiring a preceding space/quote).
            c = re.search(r'"calib_spark_sec":\s*([0-9.]+)', tail)
            toks = re.findall(
                r'(?:(?<=\s)|(?<="))([a-z][a-z0-9_]*:\d+\.\d+:\d+\.\d+)'
                r'(?=[\s"])', tail)
            if toks:
                recovered = {"qbm": " ".join(dict.fromkeys(toks))}
                if c:
                    recovered["calib_spark_sec"] = float(c.group(1))
            m = (None if toks else
                 re.search(r'"queries_best_median":\s*(\{.*?\})\s*,\s*"sf"',
                           tail, re.DOTALL))
            if m:
                try:
                    recovered = {"queries_best_median": json.loads(m.group(1))}
                    if c:
                        recovered["calib_spark_sec"] = float(c.group(1))
                except json.JSONDecodeError:
                    recovered = None
        if finals is not None:
            # merge: the final line's headline-8 rows + calib are
            # authoritative; harvested rows widen coverage. A recovered
            # payload may carry qbm tokens OR a queries/
            # queries_best_median map (r10 ADVICE: the map form was
            # silently discarded here) — normalize either to tokens.
            merged = dict.fromkeys(_qbm_tokens(recovered or {}))
            merged.update(dict.fromkeys(str(finals["gate8"]).split()))
            finals["qbm"] = " ".join(merged)
            if ("calib_spark_sec" not in finals and recovered
                    and "calib_spark_sec" in recovered):
                finals["calib_spark_sec"] = recovered["calib_spark_sec"]
            recovered = finals
        if recovered is None and qbf_payload is not None:
            recovered = {}  # the qbf line alone is a complete payload
        if recovered is None:
            print(f"ERROR: {path} has no parsed payload and no "
                  "recoverable JSON line in its tail")
            return 2
        print(f"(recovered compact payload from {path} tail"
              + (f"; {len(recovered.get('qbm', '').split())}"
                 f"/{recovered.get('n_benched', '?')} benched rows"
                 if "qbm" in recovered else "") + ")")
        b = recovered
    elif finals is not None and "queries" not in b and "qbm" not in b:
        # parsed was the finals line but the outer dict has no tail to
        # harvest: the gate8 rows alone are still a valid payload
        finals["qbm"] = " ".join(
            dict.fromkeys(str(finals["gate8"]).split()))
        b = finals
    calib = (b.get("calib_spark_sec")
             or (qbf_payload or {}).get("calib_spark_sec", CALIB_REF))
    k = max(1.0, calib / CALIB_REF)
    if "qbm" in b:
        # round-8 compact packing: "name:best:median ..." with the
        # 'q_' prefix stripped (see bench.py) — carries EVERY benched
        # row inside the driver's 2000-char tail budget
        stats = {}
        for tok in str(b["qbm"]).split():
            name, best, med = tok.rsplit(":", 2)
            stats["q_" + name] = [float(best), float(med)]
    else:
        stats = b.get("queries_best_median") or {
            q: [v, v] for q, v in b.get("queries", {}).items()}
    if qbf_payload is not None:
        # the front-coded FINAL line carries EVERY benched row
        # (best-only); rows recovered with real medians override it
        try:
            full = _decode_qbf(qbf_payload)
        except ValueError as exc:
            print(f"ERROR: {path}: {exc}")
            return 2
        best_only = set(full) - set(stats)
        n_med = len(stats)
        full.update(stats)
        stats = full
        print(f"(decoded front-coded final line: {len(stats)} rows, "
              f"{n_med} with tail-recovered medians)")
    if not stats:
        print(f"ERROR: {path} carries no per-query rows")
        return 2
    print(f"calibration k = {k:.2f} (calib_spark "
          f"{calib} vs {CALIB_REF} reference)")
    print(f"{'query':28} {'best':>7} {'median':>7} {'gate':>7} "
          f"{'ratio':>6}  verdict")
    breaches = []
    for q, (best, median) in sorted(stats.items()):
        flag = "  (median=best: qbf best-only)" if q in best_only else ""
        base = BASELINES.get(q) or BASELINES.get(SHAPE.get(q, ""), None)
        if base is None:
            print(f"{q:28} {best:7.3f} {median:7.3f} {'—':>7} {'—':>6}  "
                  "no gate (add a row or shape mapping)" + flag)
            continue
        gate = 2.0 * base * k
        val = best if use_best else median
        ratio = val / gate
        verdict = "OK" if ratio <= 1.0 else "BREACH"
        if ratio > 1.0:
            breaches.append(q)
        print(f"{q:28} {best:7.3f} {median:7.3f} {gate:7.2f} "
              f"{ratio:6.2f}  {verdict}{flag}")
    if breaches:
        print(f"\nBREACHES: {breaches}")
    return 1 if breaches else 0


if __name__ == "__main__":
    raise SystemExit(main())
