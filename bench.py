"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec}, "sf": ...}, then the same record in chunked lines.

Given query names, it times just those instead, N samples each, and prints
{"cal": sec, "sf_dir": ..., "timings": {name: [sec, ...]},
"compiles": {name: [n, ...]}}, where n counts the generated classes Spark
compiled during that sample (a repeat sample that still compiles is a query
whose generated code changes per call); --plans DIR also writes each
query's formatted physical plan to DIR/<name>.txt:

    python bench.py [--sf SF_DIR] [--n N] [--plans DIR] name ...

Both modes run on the shared session builder (session.build_session_builder)
with the same warm-up and calibration probe. Each query is forced through
full evaluation with the noop sink (collect() would add driver-transfer
cost; count() lets Catalyst prune the plan).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative mix: scan-agg, star join, top-k, pushdown agg, join-agg,
# window/sessionization, time windows, dedup (exact + fuzzy), ANN, text.
HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_orders",
    "q07_forecast_revenue",
    "q12_priority_shipping",
    "q16_asof_join",
    "q17_price_percentiles",
    "q20_events_hourly_tumbling",
    "q25_events_sessionization",
    "d01_exact_dedup_groups",
    "d04_minhash_candidate_pairs",
    "d05_ngram_jaccard_pairs",
    "d09_benchmark_contamination",
    "p01_train_val_test_split",
    "s01_ann_bruteforce_topk",
    "e02_embedding_neardup_lsh",
    "t02_quality_scores",
    "t03_token_counts_by_source",
    "m02_image_decode_features",
    "st01_stream_tumbling_counts",
    "pp01_training_data_pipeline",
    # round-2 breadth: profit star-join, grouped-HAVING re-join, full k-NN
    # graph, rule-driven data-quality scan — one representative per
    # previously-unbenched family so regressions there surface per-round.
    "q34_profit_by_nation_year",
    "q56_big_order_customers",
    "s05_knn_graph",
    "dq01_data_quality_checks",
    # fixed-quantizer IVF (Arrow-kernel inverted-list search) and unigram-LM
    # cross-entropy scoring — the round-2 similarity/text additions.
    # Deliberately NOT benched: c04 (hundreds of tiny hourly partition
    # writes — a maintenance demo, not a query) and g01 (driver-side
    # iteration overhead dominates at this SF; correctness-gated instead).
    "s06_ann_ivf_fixed_topk",
    "t15_unigram_logprob",
    # round-3: the streaming CDC upsert (foreachBatch MERGE — the streaming
    # twin of the reference's W5) gets a round-over-round number.
    "st08_stream_cdc_upsert",
    # round-3 families: PQ-ADC search (LUT-gather kernel), the Gopher rule
    # audit (shuffle-free HOF map stage), and the inverted-index
    # duplicate-shingle fraction — one representative per new family.
    "s07_ann_pq_topk",
    "t17_gopher_quality_rules",
    "d12_duplicate_shingle_fraction",
    # the composed IVFPQ index (prune lists, scan codes) — the flagship
    # billion-scale ANN shape gets its own round-over-round number.
    "s08_ann_ivfpq_topk",
    # round-3 second batch: exact-substring span dedup (inverted-index +
    # islands window) and matrix-free power-iteration PCA — one
    # representative per new family.
    "d14_duplicate_span_merge",
    "e08_power_iteration_pca",
    # round-3 third batch: bitmap-index activity rollup (integer bit-op
    # aggregation), count-min sketch estimation (fixed-width cell table),
    # diagonal-Mahalanobis OOD scan, and shingle-containment dedup — one
    # representative per new family.
    "q96_activity_bitmap",
    "t28_count_min_sketch",
    "e16_mahalanobis_ood",
    "d16_containment_pairs",
    # round-4: first round-over-round numbers for the graph and DQ families
    # — g02 is the single-pass triangle count (g01's driver-iteration
    # overhead would measure the loop, not the plan) and dq14 the one-pass
    # whole-table checksum scan.
    "g02_triangle_count",
    "dq14_table_checksum",
    # round-4 family: BPE merge learning (6 unrolled pair-count/argmax/merge
    # rounds — k corpus scans as one lazy plan).
    "t29_bpe_merge_learning",
    # round-6: previously-unbenched heavy families (VERDICT r05 #6) —
    # content-defined chunk dedup (rolling-hash boundaries + fingerprint
    # inverted index), binary-quantized hamming ANN (sign-bit packing, JVM
    # popcount), and the DSIR importance pair of the LM-scoring family
    # (t20 subsumes t18's bigram machinery: both n-gram LM re-joins).
    "d15_cdc_chunk_dedup",
    "e13_binary_hamming_topk",
    "t20_dsir_importance",
    # round-6: the scale-safe LSH-edge triangle count (g02's 100 TB form).
    "g07_triangle_count_lsh",
    # round-6b: sparse retrieval (shuffle-free scan-local BM25), the Q21
    # decorrelated join shape, and the progressive-JPEG codec chain.
    "t30_bm25_topk",
    "q99_waiting_suppliers",
    "m16_jpeg_progressive_decode",
    # round-6c: MP4 sample decode (demux + per-frame JPEG through the map
    # stage), the parquet zone-map audit (executor-side layout write +
    # footer-only stats pass), and Kneser-Ney smoothing (the LM family's
    # heaviest join fan — five count tables re-joined on the gram).
    "m17_mjpeg_frame_decode",
    "c16_parquet_zonemap_audit",
    "t31_kneser_ney_bigram",
    # round-6c: the deterministic mergeable q-digest (eager per-level
    # checkpoints — the sketch family's round-over-round number).
    "q100_qdigest_quantiles",
    # round-6d: the char-trigram langid classifier — the heaviest new
    # family (trigram explode + two profile windows + bounded broadcast
    # scoring); q101/t33/t34/m19/st15 ride the same scan/window/codec
    # machinery already benched above.
    "t32_langid_ngram_profile",
    # round-7 (VERDICT r06 #5): one representative per previously-unbenched
    # round-6d family — exact census median (the FLAT-at-100× sketch-thesis
    # twin), two-phase prefix-sum Heaps fit, vocab-bounded pairwise JSD,
    # palette-PNG codec, and the streaming Bloom filter. st16's sf0.1 time
    # is dominated by ~4s/micro-batch fixed foreachBatch machinery
    # (checkpoint commit + three shuffle stages per batch × 3 batches on
    # local[32]) — irreducible without breaking the genuinely-multi-batch
    # contract; its data-dependent terms (gram fan-out, probe) became
    # single-pass/lazy in round 7, which is what matters at 100×.
    "q101_exact_group_median",
    "t33_heaps_law_fit",
    "t34_lang_jsd_matrix",
    "m19_palette_png_channel_sums",
    "st16_stream_bloom_filter",
    # round-8: the two new retrieval/curation families — RRF hybrid fusion
    # (both retrieval arms + the bounded fusion join) and the hashed-n-gram
    # quality classifier (shuffle-free scan-stage HOF scoring).
    "s11_rrf_hybrid_retrieval",
    "t35_hashed_ngram_quality",
    # round-8: the faiss refine stage composed on the s08 index (PQ top-R
    # pool re-scored exactly; corpus touched only through the code scan).
    "s12_ann_ivfpq_refine_topk",
    # round-8 second batch: label-filtered vector search (the equi-join-on-
    # filter-key plan every multi-tenant vector store runs), cross-document
    # n-gram novelty (gram-keyed min-attribution — the one big-big inverted-
    # index JOIN shape not yet benched), and the weekly retention cohort
    # matrix (two user-keyed shuffles + bounded cell agg).
    "s13_ann_label_filtered_topk",
    "t36_crossdoc_ngram_novelty",
    "q102_retention_cohorts",
    # round-8 second batch: the GIF89a LZW codec chain (the heaviest
    # pure-Python per-pixel decoder — dictionary state per pixel, unlike
    # the vectorizable PNG/JPEG paths). c18 time travel is deliberately
    # NOT benched: a two-commit write demo, the c04 maintenance precedent.
    "m20_gif_frame_decode",
    # round-8 third batch: blocked sorted-neighborhood record linkage (the
    # n*R window-lead + Levenshtein shape — the non-LSH half of fuzzy
    # matching), TWAP (user-keyed lead window + integer agg), and the
    # decode+resize kernel (numpy fancy-index resize in the Arrow stage).
    # c19 fixed-width round-trip is deliberately NOT benched: write-bound,
    # the c04/c18 maintenance precedent.
    "d20_sorted_neighborhood_pairs",
    "q103_time_weighted_value",
    "m21_png_resize_thumbnail",
    # round-8 fourth batch: the incremental-dedup probe (index-side census
    # + cross-side band join — the daily-crawl shape) and the WAV
    # silence-segmentation kernel (decode + numpy run-length in one Arrow
    # stage). e22 reuses the benched s05 kernel and dq18 is a two-shuffle
    # census — correctness-gated instead (the g01/c04 precedent).
    "d21_incremental_minhash_probe",
    "m22_wav_silence_segments",
    # round-8 fifth batch: the incremental curation pipeline (the daily
    # production composition: fingerprint window + fp semi-join + band
    # probe + quality gate in ONE plan). s14 MIPS reuses the benched s01
    # kernel shape — correctness-gated instead.
    "pp02_incremental_curation",
    # round-8 fourth batch: the projection-tree ANN (a NEW index family —
    # census-walk median splits + leaf-local search) and the CCNet
    # surprisal terciles (vocab-rank re-join + bounded census walk).
    # dq19/p17 are plain join/window censuses and m23 rides the benched
    # WAV machinery — correctness-gated instead; c20 is a write demo
    # (the c04/c18/c19 precedent).
    "s15_projection_tree_topk",
    "t37_ccnet_surprisal_buckets",
    # round-9: the incremental index-append (persisted inverted-list write
    # + batch encode + probe over the cold read-back — the vector-store
    # ingestion twin of d21) and the unigram-LM Viterbi-EM trainer (word
    # census + two integer-DP segmentation passes — the tokenizer-training
    # family's second member beside t29). st18 is deliberately NOT
    # benched: its cost is the transformWithState state-server floor
    # already characterized by st17's SCALING_r08 analysis (st17/c04/g01
    # precedent); it is correctness-gated instead.
    "s16_incremental_index_append",
    "t38_unigram_lm_em",
    # round-10: the web-curation stages — HTML boilerplate extraction
    # (regex map stage over generated pages, linear in bytes) and the
    # host-level URL-dup census (canonicalize + two-level agg). c23 DV
    # compaction and st19 streaming ingest are deliberately NOT benched:
    # write-bound / state-server-floor demos (c04/c18/st18 precedent);
    # both are correctness-gated and measured at 100x instead.
    "t39_html_boilerplate_extract",
    "d22_url_host_dedup_census",
    # pp03 joins pp01/pp02 as the third benched pipeline composition (the
    # web-curation front end). c24 is write-bound (c04/c18/c19 precedent)
    # and st19 rides the streaming floor (st18 precedent) — both
    # correctness-gated and measured at 100x in SCALING_r10 instead.
    "pp03_web_curation_pipeline",
    # round-11: pp04 joins the pipeline compositions (the LAION-shaped
    # image-text gate: decode + caption + cosine families in one plan) and
    # q104 gives the AQE skew-split join a round-over-round number (its
    # 5-row temp-parquet materialization is negligible next to the two
    # joins). c25 vacuum is write-bound maintenance (c04/c18 precedent) —
    # correctness-gated and measured at 100x in SCALING_r11 instead.
    "pp04_image_text_curation",
    "q104_aqe_skew_join",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap = argparse.ArgumentParser(description="Time registry queries with the noop sink.")
    ap.add_argument("names", nargs="*", help="queries to time (default: the headline set)")
    ap.add_argument("--sf", default=sf_dir, help="scale-factor directory")
    ap.add_argument("--n", type=int, default=2, help="samples per named query")
    ap.add_argument("--plans", help="write each named query's formatted plan here")
    args = ap.parse_args()
    sf_dir = args.sf
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from aws_data_engineering_spark.plans.registry import queries
    from aws_data_engineering_spark.session import build_session_builder

    spark = build_session_builder(app_name="spark-graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    qs = queries()
    # warmup: JVM + parquet footer caches
    qs["q02_revenue_by_nation"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    # warmup the Structured Streaming machinery at the smallest SF: state
    # store / micro-batch classes load once per JVM (~6s) and would otherwise
    # be billed to the first streaming query's first run
    qs["st01_stream_tumbling_counts"](spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()

    def run_once(name: str) -> float:
        spark.sparkContext.setJobDescription(f"bench:{name}")
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        elapsed = time.time() - t0
        # query isolation: drop cached/persisted blocks so one run's
        # residue can't distort the next measurement
        spark.catalog.clearCache()
        return elapsed

    def _probe_spark() -> float:
        t0 = time.time()
        spark.range(0, 400_000_000).selectExpr("sum(id * 2 + 1)").write.mode(
            "overwrite"
        ).format("noop").save()
        return time.time() - t0

    if args.names:
        # constant-work probe so cross-run comparisons can see host throttle
        cal = round(_probe_spark(), 3)
        out: dict[str, list[float]] = {}
        compiles: dict[str, list[int]] = {}
        # JVM-wide count of Janino compiles (codegen cache misses)
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
        compiled = codegen.METRIC_COMPILATION_TIME().getCount
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
        for name in args.names:
            if args.plans:
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(plan)
                spark.catalog.clearCache()
            for _ in range(args.n):
                before = compiled()
                out.setdefault(name, []).append(round(run_once(name), 3))
                compiles.setdefault(name, []).append(compiled() - before)
        print(json.dumps({"cal": cal, "sf_dir": sf_dir, "timings": out,
                          "compiles": compiles}), flush=True)
        spark.stop()
        return

    def best_of_samples(fn) -> list[float]:
        # best-of-2 with a third sample if the two disagree >2x (the host
        # VM shows transient CPU-steal stalls that can hit back-to-back)
        times = [fn(), fn()]
        if max(times) > 2 * min(times):
            times.append(fn())
        return [round(t, 3) for t in times]

    def best_of(fn) -> float:
        return min(best_of_samples(fn))

    # --- host-speed calibration (VERDICT r07 #1) ---------------------------
    # Three CONSTANT-WORK probes timed before the headline loop, so
    # BENCH_rN totals can be normalized across host-speed drift (round 7's
    # 1.59x "regression" was the machine, not the code). The probes
    # separate the two observed throttling regimes: single-thread speed
    # (usually stable) vs multi-core burst throttling (3-8x after
    # sustained load). Normalization rule (SURVEY §6): compare rounds as
    # (total_N / cal_N) vs (total_M / cal_M) using spark_range_agg_sec —
    # the probe that exercises the same 32-thread JVM path as the bench.
    def _probe_python() -> float:
        t0 = time.time()
        acc = 0
        for i in range(10_000_000):
            acc += i
        assert acc == 49999995000000
        return time.time() - t0

    def _probe_numpy() -> float:
        import numpy as np

        rng = np.random.default_rng(8)
        a = rng.standard_normal((1536, 1536))
        t0 = time.time()
        for _ in range(3):
            a = a @ a
            a /= np.abs(a).max()
        return time.time() - t0

    calibration = {
        "python_single_sec": best_of(_probe_python),
        "numpy_matmul_sec": best_of(_probe_numpy),
        "spark_range_agg_sec": best_of(_probe_spark),
    }

    timings: dict[str, float] = {}
    timings_raw: dict[str, list[float]] = {}
    # Interleaved calibration series (VERDICT r11 #7): one SINGLE-sample
    # constant-work probe every 10 queries, so a sustained run's
    # burst-credit cliff (last ~10 positions reading 2-7x slow on this VM)
    # is attributable to the committed host-state series instead of being
    # misread as a code regression. Single sample by design — min-of-N
    # would mask exactly the throttle this series exists to record.
    cal_series: list[dict] = []
    for idx, name in enumerate(HEADLINE):
        if idx % 10 == 0:
            cal_series.append(
                {"pos": idx, "spark_range_agg_sec": round(_probe_spark(), 3)}
            )
        # best-of-2: the min of two runs reflects the plan's actual cost,
        # not scheduler noise (third sample on >2x disagreement). Raw
        # samples ride along so round-over-round comparisons can see the
        # per-query noise band instead of inferring it (VERDICT r09 #2).
        timings_raw[name] = best_of_samples(lambda: run_once(name))
        timings[name] = min(timings_raw[name])
    cal_series.append(
        {"pos": len(HEADLINE), "spark_range_agg_sec": round(_probe_spark(), 3)}
    )

    total = round(sum(timings.values()), 3)

    # Throttle-normalized total reported ALONGSIDE raw (never replacing
    # it): each query's seconds scaled by (series minimum / nearest probe)
    # — the series minimum is the least-throttled host state seen this
    # run, so the normalized total answers "what would this run read on
    # the run's own best host state". Raw `value` stays the metric.
    cal_min = min(c["spark_range_agg_sec"] for c in cal_series)

    def _nearest_cal(pos: int) -> float:
        best = min(cal_series, key=lambda c: abs(c["pos"] - pos))
        return best["spark_range_agg_sec"]

    total_normalized = round(
        sum(
            t * (cal_min / _nearest_cal(i))
            for i, t in enumerate(timings.values())
        ),
        3,
    )
    full_payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_raw_samples": timings_raw,
        "sf": sf,
        # host-speed normalizer: cross-round ratios should compare
        # (value / calibration_sec), not raw values
        "calibration_sec": calibration["spark_range_agg_sec"],
        "calibration": calibration,
        "calibration_series": cal_series,
        "value_throttle_normalized": total_normalized,
    }
    print(json.dumps(full_payload), flush=True)
    # Sidecar with the complete per-query record (VERDICT r11 #2), so the
    # full dict survives any stdout truncation.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_per_query.json"), "w"
        ) as fh:
            json.dump(full_payload, fh, indent=1)
    except OSError:
        pass
    # Driver-parseable per-query contract (VERDICT r11 #2 / r08 #3): the
    # driver keeps only the LAST ~2000 chars of stdout and parses the last
    # COMPLETE JSON line inside them (BENCH_r07 parsed a 1992-char line;
    # BENCH_r08's 2400-char line lost its head and parsed as None). The 80
    # query names alone are 1803 chars, so no single tail-parseable line
    # can carry them all. Instead the contract line is emitted as
    # self-contained CHUNKS, each a complete <1900-byte JSON line with the
    # full headline fields plus a slice of `queries` (scalar best-of
    # seconds): whichever chunk lands last in the tail parses completely,
    # always carries the headline total, and exposes a real per-query
    # slice; a parser that merges every line recovers the whole dict. The
    # union of chunks is exactly the full queries dict — no entry removed
    # or renamed.
    base = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf,
        "calibration_sec": calibration["spark_range_agg_sec"],
        "calibration": calibration,
        "value_throttle_normalized": total_normalized,
    }
    chunks: list[dict[str, float]] = [{}]
    budget = 1900 - len(json.dumps({**base, "queries_part": "8/8"}))
    size = 0
    for name, sec in timings.items():
        entry = len(json.dumps({name: sec})) + 2
        if size + entry > budget and chunks[-1]:
            chunks.append({})
            size = 0
        chunks[-1][name] = sec
        size += entry
    for i, chunk in enumerate(chunks):
        print(
            json.dumps(
                {**base, "queries_part": f"{i + 1}/{len(chunks)}",
                 "queries": chunk}
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
