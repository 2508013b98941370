"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the result as JSON on stdout twice: first the FULL record
(per-query map for all ~90 queries, also persisted to
BENCH_LAST.json — and promoted to the committed idle-box artifact
BENCH_LOCAL.json only when the launch loadavg gate passes), then —
as the sole FINAL stdout line — a compact version of the same record
whose "queries" map holds only the ten HEADLINE entries, so it
always fits a 2,000-char stdout tail:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "n_queries": N, "full_map": "BENCH_LAST.json"}

Each query is executed with a noop-sink action that materializes
the full result (no driver collect of big payloads). Every query is
warmed once at the target scale factor before its timed runs, so the
recorded numbers are steady-state execution — JVM/JIT, codegen,
file-listing and footer caches amortized, as on a long-lived cluster
session. Each query is then timed REPS times (default 3) and the
MEDIAN recorded, damping the ±20% ambient host drift documented in
BASELINE.md ("machine drift"). Override with SPARK_GRAFT_BENCH_REPS=1
for a quick single-shot pass while iterating.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from open_reaction_database_web_scraper_spark.registry import (  # noqa: E402
    REGISTRY,
    load_all_operators,
)
from open_reaction_database_web_scraper_spark.session import get_session  # noqa: E402

HEADLINE = [
    "agg_multi",            # TPC-H Q1 shape: scan + hash agg
    "join_shuffle_equi",    # large-large sort-merge join
    "join_multiway_star",   # star joins, broadcast dims
    "win_topk_per_group",   # window + rank-limit
    "join_asof",            # as-of emulation: union + window
    "join_range_theta",     # interval self-join
    "agg_cube",             # multi-dimension totals
    "sort_order_by",        # full range-partitioned sort
    "set_distinct",         # shuffle dedup
    "json_get_extract",     # JSON path extraction
]

# Extension headliners are appended once implemented (round 1+).
OPTIONAL = [
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "vector_topk_similarity",
    "vector_ann_ivf",
    "text_tokenize_stats",
    "stream_tumbling_count",
    "join_salted_skew",
    "pipeline_training_data",
    "text_pii_redact",
    "text_decontaminate_ngram",
    "dedup_subdoc_blocks",
    "sample_stratified",
    "pipeline_corpus_curation",
    "vector_ann_pq",
    # round 2 additions
    "stream_stream_join",
    "agg_heavy_hitters",
    "dedup_embed_cosine",
    "agg_bitmap_distinct",
    "win_sessionize_gaps",
    "dedup_fuzzy_levenshtein",
    "text_vocab_topk",
    "text_entropy_quality",
    "vector_centroid_agg",
    # round 2, tranche 2
    "event_funnel",
    "retention_cohorts",
    "join_bloom_prefilter",
    "vector_knn_join",
    "text_lm_perplexity",
    "agg_rolling_active_users",
    # round 3
    "sql_tpch_q18",
    "skyline_pareto",
    "join_asof_forward",
    "ts_resample_interpolate",
    "cdc_apply_changelog",
    "join_interval_overlap",
    "text_boilerplate_strip",
    "embedding_quantize_int8",
    "pipeline_clean_corpus",
    # round 3, tranche 2
    "graph_pagerank",
    "graph_triangle_count",
    "event_markov_transitions",
    "export_jsonl_sharded",
    "dedup_semdedup",
    "graph_bfs_levels",
    "quality_gate_reasons",
    "sample_weighted_bernoulli",
    "scan_observed_metrics",
    "join_asof_tolerance",
    "profile_benford_digits",
    "sql_tpch_q7",
    "sql_tpch_q14",
    "sql_tpch_q6",
    "sql_tpch_q10",
    # round 5: de-vacuated / codec-backed paths now doing real work
    "join_groupwise_max",
    "dedup_clusters",
    "multimodal_columns",
    "multimodal_phash_dedup",
    "multimodal_decode_ppm",
    # round 6
    "multimodal_decode_png",
    "multimodal_decode_bmp",
    "multimodal_decode_wav",
    "text_fingerprint",
    "text_zipf_slope",
    # round 6, tranche 2: TPC-H completion (DataFrame-API builds) —
    # the shape-diverse subset (window-min, semi/anti joins,
    # market-share ratio, sole-latest, scalar gates)
    "sql_tpch_q2",
    "sql_tpch_q8",
    "sql_tpch_q9",
    "sql_tpch_q13",
    "sql_tpch_q17",
    "sql_tpch_q21",
    # round 7: corpus mixing / containment tranche
    "sample_temperature_mix",
    "sample_reservoir_hash",
    "text_containment_ngram",
    "corpus_token_budget_alloc",
    # round 8
    "multimodal_decode_gif",
    "text_ngram_novelty",
    "stats_ks_drift",
    "corpus_vocab_growth",
    "text_bpe_pair_merge",
    "sample_hard_negative_mine",
    # round 9
    "sample_hard_negative_mine_ann",
    "multimodal_decode_jpeg",
    "multimodal_decode_avi",
    "pack_sequences",
    # round 10: PCA gram stage, compression-retrieval/curation
    # closers, the faithful Q1
    "vector_pca_gram",
    "embedding_binarize_hamming",
    "text_gopher_quality_rules",
    "curation_cluster_representative",
    "graph_degree_topk",
    "vector_matryoshka_truncate",
    "stats_chi2_independence",
    "sql_tpch_q1",
    "win_sliding_median",
    "ts_ewma_truncated",
    "graph_jaccard_neighbors",
    "stream_ewma_stateful",
    # round 11: the hot-bucket guard's occupancy diagnostic + the
    # TTL-evicting stateful dedup
    "dedup_lsh_occupancy",
    "stream_dedup_ttl",
    # round 12: the TTL dedup's hot-key-salted form
    "stream_dedup_salted",
    "stream_dedup_adaptive",
]


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base.replace("sf", "")) if base.startswith("sf") else -1.0


def _steal_ticks() -> int:
    """Hypervisor steal ticks from /proc/stat (8th cpu field) — the
    noise source the loadavg gate CANNOT see: a noisy co-tenant VM
    steals cycles from runnable tasks without raising this guest's
    loadavg. Round-14 finding: a launch-loadavg-0.05 run measured a
    uniform ~1.27× drift vs the round-13 idle capture on a box whose
    accumulated steal was 26% of user ticks. Recorded as DATA next to
    loadavg (not gated — steal is bursty and a gate would starve
    promotion); cross-round comparisons read it to tell code drift
    from tenancy drift. 0 on bare metal / non-Linux (field absent)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if len(parts) > 8 else 0
    except Exception:
        return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # ambient load at process start, BEFORE any Spark work: the
    # idle-box capture gate (BASELINE.md round-11 policy) reads this —
    # the timed-section start/end values below include the bench's
    # own warm-up load and cannot distinguish self from ambient.
    load_launch = round(os.getloadavg()[0], 2)
    load_all_operators()
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = HEADLINE + [q for q in OPTIONAL if q in REGISTRY]
    # Warm the session, then each query ONCE AT THE TARGET SF before
    # its timed run: JVM classloading, per-shape codegen/JIT, file
    # listing and parquet footer caches all land in the warm-up, so
    # the timed run measures steady-state execution — the regime a
    # long-lived cluster session (and the 100 TB target) actually
    # runs in. BASELINE.md states the methodology and records the
    # cold-first-run gap (~2-4× on sub-second queries).
    spark.range(1000).count()
    for name in names:
        try:
            (REGISTRY[name].fn(spark, sf_dir)
             .write.format("noop").mode("overwrite").save())
        except Exception:
            pass  # a warm-up failure surfaces in the timed run

    # Drop caches left by the warm-up pass (a few ops cache small
    # reused intermediates, e.g. minhash signatures) so no query's
    # timed run inherits another's pinned storage — and so leftover
    # cached blocks can't accumulate across the ~60-query sweep and
    # perturb late queries via eviction pressure.
    spark.catalog.clearCache()
    # Drained memory-sink views pin their full output on the driver
    # heap (round-13 capacity finding; sweep/determinism harnesses
    # already drop them between queries). The bench reaches its
    # heaviest streaming queries LAST, after ~25 earlier drains, so
    # without cleanup their timings carry the accumulated GC
    # pressure — measured as 3× max-spikes on repeated ttl-dedup
    # drains (OPTIMIZATION_r13.md, measurement fix #1). Dropped
    # after every rep, OUTSIDE the timed window.
    from open_reaction_database_web_scraper_spark.testing import (
        drop_drained_memory_sinks)
    drop_drained_memory_sinks(spark)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Ambient host load has explained two rounds of bench drift by
    # narrative; record it as data (1-minute loadavg at the start and
    # end of the timed section) so cross-round comparisons can check
    # the claim instead of assuming it.
    load_start = round(os.getloadavg()[0], 2)
    steal_start = _steal_ticks()
    t_timed_start = time.perf_counter()
    # Peak 1-minute loadavg sampled after every query's reps: the
    # end-only reading lets a mid-run spike that decays more than a
    # minute before the last query finishes slip past the flat gate
    # and clobber the idle artifact anyway. Per-query sampling is
    # the finest granularity the 1-minute average can support.
    load_peak = load_start
    timings: dict[str, float] = {}
    # Per-query spread (ADVICE/VERDICT r12 #6): round 12 measured
    # ±40% cross-day drift on sub-10 s queries; the median alone
    # hides it, so drift forensics needed worktree bisection. The
    # spread map records {min, max} next to the median (kept a plain
    # float in "queries" — the driver's schema) so a future mover
    # can be read against its own within-run spread first.
    spread: dict[str, dict[str, float]] = {}
    for name in names:
        spec = REGISTRY[name]
        samples: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            # Materialize every row and column without collecting payloads.
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            drop_drained_memory_sinks(spark)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        spread[name] = {"min": round(samples[0], 3),
                        "max": round(samples[-1], 3)}
        load_peak = max(load_peak, os.getloadavg()[0])

    # Structural metrics pass (round 11): one extra UNTIMED run per
    # query, recording shuffle rows/bytes from the AppStatusStore.
    # Wall time drifts with ambient load (the dominant noise term in
    # two rounds of cross-round comparisons); shuffle volume is a
    # pure function of plan + data, so regressions stay visible in
    # this map even on a noisy box. Kept OUT of the timed loop: the
    # listener-bus drain it needs would pollute the medians.
    from open_reaction_database_web_scraper_spark.shuffle_metrics import (
        measure_shuffle)
    shuffle: dict[str, dict[str, int]] = {}
    for name in names:
        spec = REGISTRY[name]
        try:
            shuffle[name] = measure_shuffle(
                spark,
                lambda: spec.fn(spark, sf_dir)
                .write.format("noop").mode("overwrite").save())
        except Exception:
            shuffle[name] = {"rows": -1, "bytes": -1}  # loud sentinel
        spark.catalog.clearCache()
        drop_drained_memory_sinks(spark)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "shuffle": shuffle,
        "sf": sf_of(sf_dir),
        # the width every query above ran at, and the cores it was
        # sized from (session.shuffle_width)
        "cpus": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")),
        "loadavg_1m": {"launch": load_launch, "start": load_start},
    }
    # The full per-query map (~90 entries) exceeds the 2,000-char
    # stdout tail some harnesses keep, which made two rounds of
    # headline numbers recoverable only by forensics. Emit it as an
    # EARLIER stdout line and persist it to BENCH_LAST.json; the
    # FINAL stdout line is a compact record (same schema, "queries"
    # trimmed to the ten HEADLINE entries) guaranteed to fit the tail.
    #
    # Promotion gate (round-11 verdict "what's wrong" #1): every run
    # writes BENCH_LAST.json, but the COMMITTED policy artifact
    # BENCH_LOCAL.json — the idle-box map cross-round comparisons
    # read (BASELINE.md round-11 policy: launch loadavg < ~4 and
    # flat) — is only overwritten when this run actually satisfies
    # the gate. A loaded driver run can no longer clobber the idle
    # capture via a careless `git add -A`.
    here = os.path.dirname(os.path.abspath(__file__))
    # ... and only at the policy scale factor: an idle-box sf0.001
    # iteration run must not replace the committed sf0.1 map either.
    # FLAT (ADVICE r12): the BASELINE policy is "launch loadavg < ~4
    # AND flat" — a run launched quiet but spiking mid-run is
    # rejected too. Baseline for "flat" is load_start (post-warm-up,
    # so it already carries the bench's own steady contribution);
    # margin 6 covers the bench's measured own end-vs-start creep
    # (+4.1 idle r12, +4.8 loaded r12) while an external mid-run job
    # on a 32-core box adds well past it. The flag is set BEFORE
    # either artifact is dumped so both persisted JSONs record it.
    load_end = round(os.getloadavg()[0], 2)
    load_peak = round(max(load_peak, load_end), 2)
    # flat gates on the PEAK, not just the end: a 10-minute external
    # spike finishing >1 min before the last query would leave the
    # end reading quiet while the timings it perturbed promote
    flat = load_peak < load_start + 6.0
    promoted = load_launch < 4.0 and flat and sf_of(sf_dir) == 0.1
    full["loadavg_1m"]["end"] = load_end
    full["loadavg_1m"]["peak"] = load_peak
    # Steal share of the timed section: delta-ticks / (elapsed × HZ ×
    # ncpu). HZ is USER_HZ=100 on Linux; a few % is normal tenancy,
    # tens of % explains a cross-round drift by itself.
    elapsed = max(time.perf_counter() - t_timed_start, 1e-9)
    ncpu = os.cpu_count() or 1
    steal_delta = _steal_ticks() - steal_start
    full["cpu_steal"] = {
        "ticks": steal_delta,
        "pct_of_capacity": round(
            100.0 * steal_delta / (elapsed * 100.0 * ncpu), 2),
    }
    full["promoted_to_bench_local"] = promoted
    with open(os.path.join(here, "BENCH_LAST.json"), "w") as fh:
        json.dump(full, fh)
    if promoted:
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
            json.dump(full, fh)
    sys.stderr.flush()
    print(json.dumps(full), flush=True)
    compact = dict(full)
    compact["queries"] = {k: timings[k] for k in HEADLINE if k in timings}
    # full shuffle map lives in BENCH_LOCAL.json; the compact tail
    # line only keeps the ten headline entries' row counts
    compact["shuffle"] = {k: shuffle[k]["rows"]
                          for k in HEADLINE if k in shuffle}
    # the full per-query spread lives in BENCH_LAST/BENCH_LOCAL.json
    compact.pop("spread", None)
    compact["n_queries"] = len(timings)
    compact["full_map"] = "BENCH_LAST.json"
    sys.stderr.flush()
    sys.stdout.flush()
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
