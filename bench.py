"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full compute, no driver
collect, no output cost) — the same discipline as a cluster run.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from kafka_streams_in_action_spark.operators import dedup, graph, similarity
from kafka_streams_in_action_spark.plans.queries import QUERIES
from kafka_streams_in_action_spark.session import get_spark
from kafka_streams_in_action_spark.sources.parquet import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the shapes that
# dominate real workloads (scan-agg, multiway join, window, event-time,
# dedup, text, similarity).
HEADLINE = [
    "c3_pricing_summary",    # scan + hash agg (TPC-H Q1)
    "c7_multiway_join",      # 5-way join (TPC-H Q5 shape)
    "c6_broadcast_join",     # broadcast join + agg
    "c10_asof_union",        # as-of join, linear union+last form
                             # (optimized rewrite of c10_asof_join, same oracle)
    "c9_range_window",       # interval semantics via range-frame window
                             # (optimized rewrite of c9_range_join, same oracle)
    "c12_analytic_frames",   # window frames
    "c13_topk",              # global top-k
    "c22_tumbling_window",   # event-time tumble
    "c24_session_window",    # session windows
    "c26_dedup_first",       # keyed dedup
    "c28_exact_dedup",       # hash dedup
    "c30_word_frequency",    # explode + agg
    "c30_fingerprints",      # higher-order fold
    "c29_cosine_topk",       # similarity search (brute top-k)
    "c29_ivf_ann",           # similarity search (IVF scale path)
    "sql_q3_top_revenue",    # SQL-surface 3-way join + agg + top-k
    "a9_wire_roundtrip",     # serde + wire format
    # round-2 additions: the LLM-pipeline operators hardened this round
    "c19_json_scalars",      # JSON extraction sweep
    "c21_weighted_avg_udaf", # UDAF surface
    "c29_minhash_lsh",       # MinHash+LSH near-dedup (candidates-only verify)
    "c29_cosine_near_dup",   # blocked-matmul exact near-dup pairs
    "c31_decode_image",      # real BMP decode via Arrow-batched mapInPandas
    # round-2 TPC-H widening representatives
    "sql_q8_market_share",   # 7-table join, conditional exact-sum ratio
    "sql_q21_waiting_supplier",  # correlated EXISTS + NOT EXISTS anti pattern
    "c32_pack",              # distributed prefix sum (packing)
    # round-4 additions
    "c30_lm_xent",           # corpus bigram LM + per-doc cross-entropy
    "c28_substring_dup",     # positional-shingle duplication fraction
    "c29_pq_ann",            # PQ ADC scan + exact re-rank (compressed ANN)
    # round-5 additions
    "c28_boilerplate",       # shared-span removal + broadcast text rebuild
    "c29_ivfpq_ann",         # composed IVF-PQ (cell-pruned ADC scan)
    "c29_knn_label",         # kNN majority-vote labeling (exact form)
    "c36_interval_join",     # stream-stream interval join, availableNow
    "c35_upsert_stream",     # incremental MV maintenance, 4 micro-batches
    "c37_skipping",          # Z-order vs linear min/max skipping report
    "c28_edit_verify",       # blocked candidates + Levenshtein verify
    "c4_hll_rollup",         # mergeable HLL sketch objects + union rollup
    "c33_expectations",      # declarative data-quality gate (Deequ-style)
    "c29_ivf_ingest",        # incremental IVF maintenance (frozen cells)
    "c34_sessionize",        # per-event gap sessionization (lag+cumsum)
    # round-6 additions
    "c4_cms_topk",           # Count-Min sketch build + heavy-hitter probe
    "c30_chunk",             # token-window chunking (zero-shuffle explode)
    "c29_clusters_lsh",      # CC refinement verdict over LSH edges
    "c33_ndv_sketch",        # one-pass multi-column HLL NDV profile
    # round-6 late additions
    "c35_scd2",              # SCD2 history build (two windows, one shuffle)
    "c33_drift",             # PSI drift gate (two agg passes + grid)
    "c6_bloom_join",         # bloom-pruned semi-join + exact verify
    "c31_phash_dedup",       # dHash LSH banding over real BMP round-trips
    "c10_pit_join",          # point-in-time join vs SCD2 history
    "c33_fingerprint",       # order-invariant dataset fingerprint ×2 replicas
    "c35_diff",              # keyed full-outer snapshot diff
    "c34_cep",               # CEP negation pattern (signup→purchase, no error)
    "c4_hist_quantiles",     # mergeable histogram quantile sketch
    "c29_triplets",          # contrastive triplet mining (FNV negative)
    # round-7 additions
    "c38_pagerank",          # iterative graph: 10 power steps over joins
    "c12_ewma",              # trailing-k EWMA (frame array + JVM fold)
    "c33_anomaly",           # rolling z-score (exact integer frame sums)
    "c34_attribution",       # conditional first/last over running frame
    "c30_novelty",           # shingle inverted-index novelty score
    "c32_winsorize",         # rank-selected quantile clamp + dsum
    "c16_resample",          # day-grid generate + ffill
    "c35_scd2_stream",       # 4-batch SCD2 change capture + stitch
    "c38_triangles",         # ordered two-join triangle census
    "c33_benford",           # first-digit audit (map-side agg, 9 groups)
    "c30_rake",              # RAKE phrase extraction (cumsum + 2 aggs)
    "c29_matryoshka",        # full-dim vs truncated top-k overlap
    # round-8 additions
    "c39_link",              # record linkage: banded block + verify + assign
    "c28_par_dedup",         # paragraph-hash dedup + doc reassembly
    "c38_reach",             # k-hop BFS over the sparsified trade graph
    "c12_holt",              # sequential level+trend kernel per user
    "c12_holt_stream",       # same recurrence through the state store
    "c34_throttle",          # per-(user, hour) rate cap window
    "c34_throttle_stream",   # (hour, count) state machine, 4 batches
    "c33_chisq",             # type×weekday chi-square cell audit
    "c30_pmi",               # bigram collocation lift (3 count aggs)
    "c32_systematic",        # 3-level prefix sum + join-free grid picks
    "c16_interp",            # day grid + linear gap fill (2 frame passes)
    "c31_vad",               # in-kernel audio activity segmentation
    "c7_basket",             # within-basket pair affinity
    "c33_gini",              # rank-formula Gini in exact decimal
    "c29_mmr",               # greedy MMR over bounded candidates
    "c35_merge",             # 3-arm MERGE full-outer + router
    "c34_dwell",             # lag-window gap stats + ranked median
    "c32_temporal_split",    # day-histogram cut + leakage audit
    "c31_resample_audio",    # decimate + re-encode + verify in-kernel
    "c32_oversample",        # class-balance explode + audit count
    "c33_cusum",             # two-window reset-free CUSUM
    "c30_phrase",            # posting-list phrase join
    "c39_golden",            # linkage + survivorship fold
    "c34_survival",          # KM product over the duration table
    "c16_ohlc",              # ranked-window candle bars
    "c35_wap",               # stage + audit + atomic publish
    "c33_mad",               # two ranked passes + integer fences
    "c12_xcorr",             # lag join over the bounded day table
    "c30_lexdiv",            # word-frequency diversity report
    "c38_assort",            # edge build + degree correlation
    # round-9 additions
    "c12_drawdown",          # two-frame BIGINT drawdown sweep
    "c12_drawdown_stream",   # (cum, peak) state machine, 4 batches
    "c12_crossover",         # rolling-sum cross-multiply signals
    "c12_trend",             # per-nation OLS from integer stats
    "c9_overlap",            # sweep-line interval concurrency
    "c34_rfm",               # 3 ntile rankings over the customer rollup
    "c35_timetravel",        # argmax state reconstruction at 3 cuts
    "c35_forget",            # cascade purge + independent orphan audit
    "c38_linkpred",          # posting-list pair join + ranked top-3
    "c38_kcore",             # 12 fixed peel rounds over bounded edges
    "c33_ks",                # pair-grid KS distance via cum windows
    "c16_seasonality",       # dow cross-product index on the day table
    "c35_vacuum",            # version writes + retention delete + audit
    "c39_blocking",          # blocker recall / reduction-ratio gauge
    "c16_gaps",              # per-series calendar-gap audit
    "c38_closeness",         # all-sources BFS + integer harmonic
    "c34_stickiness",        # bounded explode → exact sliding distinct
    "c33_reconcile",         # fact-vs-header integer delta profile
    "c29_recall_curve",      # LSH sweep vs exact pair sets
    "c32_quota",             # apportionment + hash-ordered draw
    "c34_growth",            # weekly new/retained/resurrected/dormant
    "c30_token_budget",      # per-source dedup token accounting
    "c29_filtered_ann",      # pre- vs post-filter vector search
    "c31_exposure",          # in-kernel integer-luma exposure tails
    "c33_pareto",            # 80/20 concentration per segment
    "c12_theilsen",          # median pairwise slope, bounded pairs
    "c37_formats",           # JSON/CSV/ORC round-trip fidelity
    "c30_dup_coverage",      # duplicated 8-gram instance fraction
    "c33_flatline",          # stuck-value run audit
    "c34_paths",             # top 3-step path mining
    "c32_leakage",           # cross-split contamination audit
    "c30_rrf",               # integer reciprocal-rank fusion
    "c34_event_study",       # pre/post intervention lift
    "c35_bitemporal",        # two-axis as-of argmax reads
    "c16_lttb",              # anchor-chain downsampling kernel
    "c31_clipping",          # in-kernel hot-signal audit
    "c33_flatline_stream",   # (value, run) state machine, 4 batches
    "c35_merkle",            # fingerprint-first snapshot reconcile
    "c34_streaks",           # gaps-and-islands day streaks
    "c10_asof_stream",       # keyed as-of enrichment state machine,
                             # 4-batch merged-timeline replay
    "c12_rsi",               # 14-day SMA RSI, bounded day table
    "c16_vwap",              # daily + cumulative VWAP per flag
    "c33_order_regressions", # out-of-order ingestion audit
    "c34_interarrival",      # per-user gap stats + burstiness CV
    "c33_uniqueness",        # candidate-key count-distinct audit
    "c34_ltv",               # cohort LTV curves, exact milli
    "c32_kfold",             # FNV k-fold split + balance grid
    "c30_length_quantiles",  # exact histogram-selected percentiles
    "c28_shard_overlap",     # md5 shard contamination matrix
    "c28_cdc_chunks",        # content-defined chunking + dup audit
    "c35_schema_evo",        # mergeSchema evolution on real files
    "c31_sniff",             # magic-byte vs declared-format audit
    "c34_interarrival_stream",  # integer moment state machine, 4 batches
    "c29_emb_profile",       # per-dim exact moments, posexplode+combine
    "c35_partition_evo",     # day->week layout migration, real dirs
    "c12_peaks",             # local maxima on bounded day tables
    "c33_freshness",         # per-feed staleness SLA report
    "c16_busdays",           # closed-form business-day latency
    "c12_mase",              # naive vs seasonal-naive forecast error
    "c12_bollinger",         # decimal cross-multiplied band breakouts
    "c35_commutativity",     # double-application LWW order audit
    "c6_bucketed",           # exchange-free co-bucketed fact join
    # round-10 additions
    "a14_registry",          # schema-registry round-trip + restart twin
    "c30_bm25",              # posting-list BM25 top-k retrieval
    "c30_fertility",         # chars-per-token by language
    "c32_temperature",       # power-law mixing + Hamilton apportionment
    "c33_entropy",           # categorical-column entropy profile
    "c33_corr",              # exact Pearson matrix, one global agg
    "c12_acf",               # lag-1/2/7 autocorrelation per type
    "c38_hits",              # integer fixed-point HITS, 8 iterations
    "c29_hamming",           # sign-bit signatures + popcount top-k
    "c34_l28",               # trailing-28-day engagement histogram
    "c30_zipf",              # top-100 vocab power-law fit
    "c31_letterbox",         # in-kernel black-bar detection
    "c16_m4",                # min/max/first/last bucket downsample
    "c34_l28_stream",        # bitmask set-state twin, 4 batches
    "c12_stl",               # STL-lite trend/seasonal/residual split
    "c34_heatmap",           # hour-of-week activity matrix
    "c37_pruning",           # partitioned write + pruned read proof
    "c6_dpp",                # dynamic partition pruning star join
    "c10_asof_tolerance",    # staleness-bounded as-of (merge_asof tol)
    "c33_seasonal_anomaly",  # z-score on the STL residual
    # round-10 additions (r12 slate)
    "c35_cdc",               # KTable changelog materialization
    "c35_cdc_stream",        # the same fold as a 4-batch state machine
    "c9_coverage",           # sweep-line interval-union coverage
    "c12_changepoint",       # exact single change-point argmax
    "c34_markov",            # stationary distribution, 12 ppm steps
    "c29_diversity",         # Gram-sum mean pairwise dot
    "c32_padwaste",          # length-bucket padding-waste ledger
    "c31_blur",              # in-kernel variance-of-Laplacian
    "c37_aqe_skew",          # runtime skew-split earned verdict
    "c38_scc",               # BFS-closure SCC labels
    "c33_anomaly2",          # day-bucket z-score rewrite (x|days| tasks)
    "c33_fd",                # functional-dependency audit
    "c12_seasonal",          # STL seasonal-strength gauge
    "c32_epoch_shuffle",     # epoch-salted shard/order projection
    "c31_snr",               # in-kernel active/quiet power ratio
    # round-11 additions (r13 slate)
    "c40_kanon",             # k-anonymity QI-class audit
    "c40_ldiversity",        # l-diversity sensitive-value audit
    "c40_generalize",        # generalization ladder, monotone-k verdict
    "c30_pii",               # regex PII scan + md5-proved scrub
    "c42_target_encode",     # smoothed target encoding, exact cents
    "c42_feature_hash",      # FNV hash-trick bucket census
    "c34_bursts",            # trailing-mean burst census
    "c34_bursts_stream",     # (type, day) count state twin, 4 batches
    "c9_allen",              # Allen interval-relation census
    "c38_eccentricity",      # min-hop ecc/diameter/radius profile
    "c37_aqe_coalesce",      # runtime partition-coalescing verdict
    "c31_dominant_color",    # in-kernel color-cube argmax
    "c12_runs",              # Wald-Wolfowitz runs test
    "c16_sla",               # gap-derived availability ledger
    "c29_centroid_shift",    # per-label centroid drift, exact rational
    "c33_jsd",               # time-split Jensen-Shannon drift
    "c42_woe",               # WoE / IV feature screening
    "c34_absence",           # churn-risk absence histogram
    "c34_absence_stream",    # last-seen max-fold state twin, 4 batches
    "c12_vratio",            # Lo-MacKinlay variance ratio VR(7)
    # round-12 additions (the r14 slate)
    "c4_tdigest",            # mergeable t-digest, rank-audited
    "c13_decay_topk",        # dyadic-decay leaderboard top-k
    "c13_decay_topk_stream", # (user, day) count state twin, 4 batches
    "c35_scd1",              # latest-wins SCD1 MERGE
    "c40_tcloseness",        # ordered-EMD t-closeness audit
    "c42_binning",           # equal-frequency binning, no global sort
    "c42_onehot",            # top-N one-hot vocab + OOV
    "c34_peak",              # sweep-line peak concurrency
    "c34_peak_stream",       # heap-state sweep twin, 4 batches
    "c16_sla_stream",        # running gap-stats state twin, 4 batches
    "c43_ndcg",              # nDCG/MRR of int8 vs exact ranking
    "c4_tdigest_stream",     # digest-as-state twin, 4 batches
    "c27_ttl_stream",        # event-time TTL eviction, 4+flush batches
    "c43_kappa",             # int8-vs-float classifier agreement (kappa)
    "c37_split_tuning",      # input-split sizing verdict (plan proof)
    # round-13 additions (the r15 slate)
    "c24_session_stream",    # session-window merge state twin, 4 batches
    "c22_tumbling_stream",   # tumbling append-mode twin, 4 batches
    "c23_sliding_stream",    # sliding append-mode twin, 4 batches
    "c6_bloom_index",        # persisted bloom index: write/reload/probe
    "c37_zorder_maintain",   # incremental OPTIMIZE after appends
    "c35_restore",           # version rollback re-publish
    "c43_map",               # AP@10 of int8 vs exact ranking
    "c43_auc",               # Mann-Whitney ROC-AUC, centroid detector
    "c42_scaler",            # scaler fit stats, one exact pass
    "c33_moments",           # skew/kurtosis from decimal power sums
    "c38_sssp",              # weighted Bellman-Ford over trade graph
    "c30_code_detect",       # structural code-vs-prose detector
    "c31_tile",              # ViT-style patch grid, in-kernel sums
    # round-14 additions (the r16 slate)
    "c36_window_join",       # (user, window)-keyed stream-stream join
    "c26_dedup_stream",      # dropDuplicatesWithinWatermark twin
    "c37_codec",             # compression-codec advisor, real files
    "c35_clone",             # zero-copy shallow clone + divergence
    "c21_ols_fit",           # per-customer Arrow OLS UDAF, data scale
    "c40_dp_hist",           # DP-release-shaped noisy histogram
    "c31_augment",           # seeded crop/flip augmentation kernel
    "c43_calibration",       # reliability bins, centroid detector
    "c35_constraints",       # CHECK-constraint gate, real files
    "c40_pseudonymize",      # keyed tokens, referential integrity
    "c43_regression",        # MAE/MSE of the group-mean baseline
    # round-14 continuation additions (r16 slate at the 15-row cap)
    "c36_left_join_stream",  # windowed outer twin, eviction-path emit
    "c35_mv_refresh",        # incremental MV delta merge, real files
    "c42_imputer",           # fit/transform median impute, histogram
    "c37_join_advisor",      # stats-driven strategy + plan confirm
]


def _stream_overhead(spark) -> float:
    """Fixed cost of ONE availableNow micro-batch stream that processes
    ~nothing: a 1-row parquet source through a watermarked windowed agg to
    a memory sink (state store init, checkpoint setup, the no-data final
    batch that advances the watermark). The streaming HEADLINE entries pay
    this per run regardless of data volume — recording it separately lets
    cross-round comparisons tell data-proportional regressions from
    harness cost (r5 verdict item 5). c35_upsert_stream replays 4
    micro-batches plus a parquet sink, so its fixed share is roughly 4×
    this number; c36_interval_join runs 1 batch + final, ≈1-2×."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="bench_null_stream_")
    (spark.range(1)
     .select("id", F.current_timestamp().alias("ts"))
     .write.mode("overwrite").parquet(src))

    def run() -> None:
        # same bounded-run posture as the streaming HEADLINE entries
        # (plans/queries.py:_stream_partitions): 8 state partitions
        from kafka_streams_in_action_spark.plans.queries import (
            _stream_partitions)

        with _stream_partitions(spark):
            sink = f"null_stream_{uuid.uuid4().hex[:8]}"
            sdf = (spark.readStream.schema("id long, ts timestamp")
                   .parquet(src)
                   .withWatermark("ts", "1 hour")
                   .groupBy(F.window("ts", "1 hour"))
                   .count())
            q = (sdf.writeStream.format("memory").queryName(sink)
                 .outputMode("append").trigger(availableNow=True).start())
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("null stream did not finish in 120s")

    run()  # warm
    best = None
    for _ in range(2):
        t0 = time.time()
        run()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


# HEADLINE entries that execute a real availableNow stream at build time —
# their timings include ~stream_overhead_sec (×4 for the 4-batch MV) of
# fixed harness cost on top of the data-proportional work.
STREAM_QUERIES = ["c36_interval_join", "c35_upsert_stream",
                  "c35_scd2_stream", "c12_holt_stream",
                  "c34_throttle_stream", "c12_drawdown_stream",
                  "c33_flatline_stream", "c10_asof_stream",
                  "c34_interarrival_stream", "c34_l28_stream",
                  "c35_cdc_stream", "c34_bursts_stream",
                  "c34_absence_stream", "c13_decay_topk_stream",
                  "c34_peak_stream", "c16_sla_stream",
                  "c4_tdigest_stream", "c27_ttl_stream",
                  "c24_session_stream", "c22_tumbling_stream",
                  "c23_sliding_stream", "c36_window_join",
                  "c26_dedup_stream", "c36_left_join_stream"]

# Micro-batch count each twin's availableNow replay executes (the fixed
# replay floor is ~batches × stream_overhead_sec); all the file-split
# replays run 4 batches, the interval join runs 1 + the no-data final.
_STREAM_BATCHES = {"c36_interval_join": 2,
                   # event-time timeouts also fire in the final
                   # no-data flush batch availableNow appends
                   "c27_ttl_stream": 5}


def _calibrate() -> dict[str, float]:
    """Fixed-work CPU microbenchmarks, recorded next to the query timings so
    cross-round comparisons can separate host-speed drift from real plan
    regressions (r2→r3 showed a uniform ~2× slowdown across unrelated
    queries — environmental, but indistinguishable from a regression
    without a yardstick). One single-thread python loop + one BLAS matmul;
    both deterministic, both < 1 s."""
    import numpy as np
    t0 = time.time()
    acc = 0
    for i in range(5_000_000):
        acc += i * 31 & 0xFFFF
    py = time.time() - t0
    a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) / 1e6
    t0 = time.time()
    for _ in range(20):
        a @ a
    blas = time.time() - t0
    return {"calib_python_sec": round(py, 3), "calib_blas_sec": round(blas, 3)}


def _calibrate_contention(spark) -> dict[str, float]:
    """32-thread contention sentinel (verdict r11 item 5): a fixed-work
    parallel shuffle+agg micro-benchmark recorded beside the single-thread
    calibrations. The r10→r11 +8% drift sat ONLY on 32-thread parallel
    paths while calib_python/calib_blas stayed flat, so attributing it to
    instance scheduler/NUMA behavior took cross-file forensics; this probe
    makes that drift self-evident in one file — if calib_shuffle32_sec
    moves with the query totals while the single-thread probes hold,
    the instance (not a plan) moved. Fixed work regardless of sf: 32 M
    synthetic rows, 32 input slices, one 100k-key hash shuffle + agg,
    best-of-2 warm."""
    from pyspark.sql import functions as F

    def run():
        (spark.range(0, 32_000_000, 1, 32)
         .select((F.col("id") % 100_003).alias("k"),
                 ((F.col("id") * 2654435761) % 1_000_003).alias("v"))
         .groupBy("k")
         .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("c"))
         .select(F.sum("sv"), F.sum("c"))
         .collect())

    best = None
    for _ in range(2):
        t0 = time.time()
        run()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return {"calib_shuffle32_sec": round(best, 3)}

# The registered c29_minhash_lsh / c29_ivf_ann queries are VERDICT forms
# (they run an in-query exact reference alongside the approximate path for
# the correctness gate). The bench times the raw scale paths a production
# pipeline runs, keeping per-query numbers comparable across rounds; the
# IVF index build is timed as its own entry below (build once, probe many —
# the honest cluster cost model).
_IVF_CENTROIDS: dict[str, object] = {}
_PQ_CODEBOOKS: dict[str, object] = {}
#: Shared nation-trade edge list (verdict r9 item 6): the five c38 trade
#: rows all start from the SAME 4-table fact join; a production pipeline
#: materializes that edge list once and runs every centrality on it. The
#: build is timed as its own entry (c38_edges_build — the honest
#: build-once/score-many accounting the ANN codebooks already use) and
#: the per-query entries then time the iteration/scoring work itself.
_TRADE_EDGES: dict[str, object] = {}


def _c38(fn):
    def run(spark, sf_dir):
        t = {n: load_table(spark, n, sf_dir)
             for n in ("customer", "orders", "lineitem", "supplier",
                       "nation")}
        return fn(spark, sf_dir, t)
    return run


OVERRIDES = {
    "c38_pagerank": _c38(lambda spark, sf_dir, t: graph.nation_trade_pagerank(
        t["customer"], t["orders"], t["lineitem"], t["supplier"],
        t["nation"], edges=_TRADE_EDGES[sf_dir])),
    "c38_hits": _c38(lambda spark, sf_dir, t: graph.nation_trade_hits(
        t["customer"], t["orders"], t["lineitem"], t["supplier"],
        t["nation"], edges=_TRADE_EDGES[sf_dir])),
    "c38_reach": _c38(lambda spark, sf_dir, t: graph.khop_reachability(
        t["customer"], t["orders"], t["lineitem"], t["supplier"],
        t["nation"], edges=_TRADE_EDGES[sf_dir])),
    "c38_closeness": _c38(lambda spark, sf_dir, t: graph.closeness_centrality(
        t["customer"], t["orders"], t["lineitem"], t["supplier"],
        t["nation"], edges=_TRADE_EDGES[sf_dir])),
    "c38_assort": _c38(lambda spark, sf_dir, t: graph.degree_assortativity(
        t["customer"], t["orders"], t["lineitem"], t["supplier"],
        edges=_TRADE_EDGES[sf_dir])),
    "c29_minhash_lsh": lambda spark, sf_dir: dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.1),
    "c29_ivf_ann": lambda spark, sf_dir: similarity.ivf_topk(
        load_table(spark, "embeddings", sf_dir),
        centroids=_IVF_CENTROIDS[sf_dir]),
    "c29_pq_ann": lambda spark, sf_dir: similarity.pq_topk(
        load_table(spark, "embeddings", sf_dir),
        codebooks=_PQ_CODEBOOKS[sf_dir]),
    "c29_ivfpq_ann": lambda spark, sf_dir: similarity.ivfpq_topk(
        load_table(spark, "embeddings", sf_dir),
        centroids=_IVF_CENTROIDS[sf_dir],
        codebooks=_PQ_CODEBOOKS[sf_dir]),
}


def main() -> None:
    spark = get_spark("bench")
    sf = 0.1
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    if m:
        sf = float(m.group(1).rstrip("."))

    timings: dict[str, float] = {}

    # IVF index build (seed + 2 Lloyd refinement iterations), timed once as
    # its own entry; the probe entry below reuses the built centroids.
    emb = load_table(spark, "embeddings", SF_DIR)
    similarity.build_ivf_centroids(emb)          # warm
    best = None
    for _ in range(2):
        t0 = time.time()
        cents = similarity.build_ivf_centroids(emb)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    _IVF_CENTROIDS[SF_DIR] = cents
    timings["c29_ivf_build"] = round(best, 3)
    print(f"# c29_ivf_build: {timings['c29_ivf_build']}s",
          file=sys.stderr, flush=True)

    # PQ codebook build (seed + 1 Lloyd pass over all m subspaces), same
    # build-once/probe-many accounting as IVF.
    similarity.build_pq_codebooks(emb)           # warm
    best = None
    for _ in range(2):
        t0 = time.time()
        books = similarity.build_pq_codebooks(emb)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    _PQ_CODEBOOKS[SF_DIR] = books
    timings["c29_pq_build"] = round(best, 3)
    print(f"# c29_pq_build: {timings['c29_pq_build']}s",
          file=sys.stderr, flush=True)

    # Trade-graph edge build (the 4-table fact join all five c38 trade
    # rows share), timed once; localCheckpoint materializes it so the
    # per-query entries measure iteration/scoring work, not the join.
    tabs = [load_table(spark, n, SF_DIR)
            for n in ("customer", "orders", "lineitem", "supplier")]
    graph.trade_edges(*tabs).localCheckpoint()  # warm
    best = None
    for _ in range(2):
        t0 = time.time()
        e = graph.trade_edges(*tabs).localCheckpoint()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    _TRADE_EDGES[SF_DIR] = e
    timings["c38_edges_build"] = round(best, 3)
    print(f"# c38_edges_build: {timings['c38_edges_build']}s",
          file=sys.stderr, flush=True)

    for name in HEADLINE:
        fn = OVERRIDES.get(name) or QUERIES[name].fn
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()  # warm (JIT, files)
        best = None
        for _ in range(2):  # min of 2: shields against transient scheduler noise
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr, flush=True)

    ovh = _stream_overhead(spark)
    print(f"# stream_overhead: {ovh}s", file=sys.stderr, flush=True)

    # Batch vs streaming-twin sections (r8 verdict item 5): the nine
    # availableNow twins sit on a fixed replay floor (checkpoint dir,
    # state store init, per-micro-batch planning) that amortizes at data
    # scale but dominates at sf0.1 — splitting the totals keeps the batch
    # trend line readable, and the per-twin floor/handler split tells a
    # replay-harness drift from a real handler regression.
    stream_timings = {n: timings[n] for n in STREAM_QUERIES if n in timings}
    batch_timings = {n: v for n, v in timings.items()
                     if n not in stream_timings}
    stream_sections = {}
    for name, sec in stream_timings.items():
        batches = _STREAM_BATCHES.get(name, 4)
        floor = round(min(sec, batches * ovh), 3)
        stream_sections[name] = {
            "sec": sec,
            "replay_floor_sec": floor,
            "handler_sec": round(sec - floor, 3),
        }

    total = round(sum(timings.values()), 3)
    report = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "batch_total_sec": round(sum(batch_timings.values()), 3),
        "stream_total_sec": round(sum(stream_timings.values()), 3),
        "stream_overhead_sec": ovh,
        "stream_queries": STREAM_QUERIES,
        "stream_sections": stream_sections,
        **_calibrate(),
        **_calibrate_contention(spark),
    }
    # Drift self-defense (r14 verdict item 9): the sandbox's 32-thread
    # throughput swings ±50% between runs while single-thread calibration
    # holds, which makes raw round-over-round per-query diffs mostly
    # measure the instance. Emit each query's time in units of the
    # fixed-work 32-thread shuffle sentinel — FULL ledger only (the
    # headline JSON line is unchanged), additive per the bench contract —
    # so the next PERF comparison can separate drift from code.
    c32 = report["calib_shuffle32_sec"]
    if c32 > 0:
        report["queries_norm_shuffle32"] = {
            k: round(v / c32, 2) for k, v in timings.items()}
    # Committed local copy (r8 verdict item 4): the driver's BENCH_r{N}
    # artifact truncated two rounds running; this file preserves the full
    # per-query table for round-over-round regression attribution.
    local = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL_r15.json")
    try:
        with open(local, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    except OSError as e:  # read-only checkout: stdout line still lands
        print(f"# BENCH_LOCAL write skipped: {e}", file=sys.stderr)
    # The driver's BENCH_r{N} capture keeps only the final ~2000 chars
    # of stdout and parses the JSON line it finds there (r10 verdict
    # item 7: the full 195-query line is ~12 KB, so its head fell out
    # of the window and "parsed" landed null two rounds running). Emit
    # a line GUARANTEED to fit: totals + the slowest-K per-query rows,
    # with the committed BENCH_LOCAL file carrying the full table.
    slim = {k: report[k] for k in (
        "metric", "value", "unit", "sf", "batch_total_sec",
        "stream_total_sec", "stream_overhead_sec", "calib_python_sec",
        "calib_blas_sec", "calib_shuffle32_sec") if k in report}
    slim["n_queries"] = len(timings)
    slim["queries_full"] = os.path.basename(local)
    ordered = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    k = len(ordered)
    line = None
    while k > 0:
        slim["queries"] = dict(ordered[:k])
        slim["queries_truncated"] = k < len(ordered)
        line = json.dumps(slim, separators=(",", ":"))
        if len(line) <= 1900:
            break
        k -= 5
    print(line)


if __name__ == "__main__":
    main()
