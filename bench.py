"""Benchmark harness (driver contract + local feedback loop).

Runs the headline queries from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, writes the full per-query + shuffle
detail to ``BENCH.json`` (override with ``$SPARK_GRAFT_BENCH_OUT``),
and prints ONE compact JSON line to stdout (the 12-query BASELINE.md
core — small enough for the driver's tail capture to parse whole):

    {"metric": "total_wall_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "core_total_sec": N,
     "n_queries": N, "sf": 0.1}

Each query is forced with a cheap ``count()``-style action
(``df.write.format("noop")``) so we measure full plan execution without
driver-side collect overhead dominating.

Shared-evidence methodology (r10 ADVICE): queries that read a
per-(SparkContext, sf_dir) pinned cache (the SCAN sigma + triangle
list, the blocked-Jaccard near-dup evidence, and the r12 additions:
the PCA scatter, the symmetric co-occurrence edge list, the DSIR
log-weight table, the BPE _bpe_rounds pair, the duplicated-substring
span table) have the build absorbed by their per-query UNTIMED warmup
run — every timed figure is the query's own marginal work, the
per-query cost a pipeline pays after the first consumer. As of r13
(VERDICT r12 item 1) the pin builds are no longer invisible: every
full run times each shared-evidence build COLD (before any warmup)
and reports it as a ``pin_builds`` row in BENCH.json, with
``pin_total_sec`` and ``cold_total_sec`` (= value + pin_total_sec)
added to both BENCH.json and the stdout line. ``value`` keeps its
r01-r12 meaning (sum of per-query marginal walls) so round-over-round
comparisons stay valid; ``cold_total_sec`` is the honest cold-session
figure.

Low-core runs (VERDICT r12 item 2): a full run at a core count other
than 32 writes its detail to ``BENCH_c{N}.json`` instead of
``BENCH.json`` so the driver's low-core pass never clobbers the
committed 32-core record, and the host-factor baseline is skipped
when the committed record was taken at a different core count.
``--scaling`` runs the multi-second heavies at ``$SPARK_GRAFT_CPUS``
and again in a ``local[8]`` subprocess, then prints per-query
high/low-core ratios (evidence for SCALING.md).

Usage:

    python bench.py [--only name ...] [--repeat 1] [--scaling]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship plus one representative per operator family.
# (Running all ~35 registry queries per round would blur the signal; these
# cover scan/agg, multi-join, window, sessionize, dedup, LSH, ANN, text.)
HEADLINE = [
    "cooccurrence_pairs",
    "cooccurrence_stripes",
    "cooccurrence_topk",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "window_running_orders",
    "topk_orders_per_customer",
    "events_sessionize",
    "asof_join_event_order",
    "fuzzy_customer_name_pairs",
    "q17_small_quantity_revenue",
    "dedup_exact",
    "minhash_near_dup",
    "jaccard_prefiltered",
    "text_stats",
    "embedding_topk",
    "embedding_srp_lsh_topk",
    "events_session_window",
    "multimodal_png_roundtrip",
    "q7_nation_volume_shipping",
    "bm25_search",
    "decontaminate_ngrams",
    # r05 additions
    "q9_product_profit",
    "q21_waiting_supplier",
    "cooccurrence_pairs_skewed",
    "fuzzy_name_pairs_collapsed",
    "curate_corpus_deduped",
    "token_shards_4k",
    # r05 continuation additions
    "scd2_user_event_type",
    "vocab_build_min5",
    "dedup_incremental_batch",
    "zorder_locality_orders",
    # r05 third-session additions
    "resample_gapfill_events",
    "bigram_lm_score",
    "boilerplate_gram_screen",
    "pagerank_cooccurrence",
    "cooccurrence_sessions",
    "sequence_pack_512",
    "tfidf_cosine_pairs",
    "split_leakage_near_dup",
    "countmin_word_freq",
    "funnel_view_click_purchase",
    # r05 fourth-session additions
    "chunk_documents_200",
    "triangle_count_items",
    "triangle_count_sampled",
    "hybrid_rrf_search",
    "dedup_cluster_canonical",
    "source_kl_divergence",
    "kcore_peel_items",
    "inverted_index_terms",
    "pit_join_purchase_state",
    "dq_suite_orders",
    # r05 fifth-session additions
    "bpe_learn_merges",
    "kmeans_embeddings",
    "join_bloom_prefiltered_revenue",
    "incremental_agg_orders",
    "embedding_pq_adc_topk",
    # r05 sixth-session additions
    "kmv_distinct_users",
    "skyline_orders",
    "mad_outlier_events",
    "quantile_bins_orders",
    "containment_near_dup",
    "golden_record_docs",
    "event_debounce_1d",
    "ewma_value_events",
    "containment_quotes_trigram",
    "ohlc_hourly_events",
    "key_skew_report_orders",
    "attribution_linear_credit",
    "bootstrap_ci_totalprice",
    "rfm_segmentation",
    # r05 seventh-session additions
    "bfs_hops_items",
    "scrub_repeated_segments",
    "seasonal_hourly_events",
    "roc_auc_doclen_lang",
    "gini_customer_spend",
    "kaplan_meier_conversion",
    "pmi_collocations",
    "activity_streaks_events",
    "target_encode_segment",
    "multimodal_resize_verified",
    "sample_quantiles_orders",
    "readability_flesch",
    "schema_drift_orders",
    "temperature_mix_sources",
    "spearman_spend_frequency",
    "classification_report_langid",
    "source_vocab_overlap",
    "classification_summary_langid",
    # r06 additions
    "dsir_importance_en",
    "audio_features_verified",
    "audio_resample_decimate",
    "semantic_dedup_embeddings",
    "privacy_k_anonymity_orders",
    "privacy_suppress_orders",
    "cluster_topics_embeddings",
    "gdpr_cascade_forget",
    "record_linkage_fs",
    "dataset_fingerprints",
    "fingerprint_incremental_orders",
    "calibration_curve_doclen",
    # r07 additions
    "audio_resample_fir",
    "cusum_changepoint_events",
    "ks_drift_totalprice",
    "hits_customer_part",
    "entropy_screen_docs",
    "dsir_select_gumbel100",
    "record_linkage_em",
    "hashing_trick_features",
    "dp_noisy_counts_priority",
    "welch_ttest_urgent",
    "benford_screen_totalprice",
    "multimodal_ahash_dedup",
    "weighted_sample_orders",
    "theilsen_trend_events",
    "markov_stationary_events",
    "linkage_sorted_neighborhood",
    "mutual_info_type_hour",
    "audio_resample_rational",
    "linkage_snm_multipass",
    "record_linkage_em_fit",
    "pca_top_component_embeddings",
    "linkage_reciprocal_best",
    "psi_drift_totalprice",
    "psi_drift_by_status",
    "pca_two_components_embeddings",
    # r08 additions
    "wasserstein_drift_totalprice",
    "mannwhitney_urgent_totalprice",
    "isotonic_calibration_doclen",
    "dedup_substring_spans",
    "cusum_adaptive_events",
    "decontaminate_span_report",
    "audio_dft_energy",
    "xml_source_supplier_agg",
    "normalize_text_nfc",
    "isotonic_calibration_by_source",
    "join_size_report_partkey",
    "dsir_weight_ess",
    "linkage_blocking_quality",
    "wasserstein_drift_by_status",
    "mannwhitney_by_status",
    "ks_drift_by_status",
    "oov_rate_by_source",
    "dedup_cut_spans",
    "benford_by_priority",
    "kendall_tau_spend_frequency",
    # r09 additions
    "zipf_fit_words",
    "gopher_rules_screen",
    "multimodal_phash_dedup",
    "perplexity_buckets_ccnet",
    "attribution_markov_removal",
    "brier_decomposition_doclen",
    "source_gram_containment",
    # r09-continuation additions
    "label_propagation_items",
    "isotonic_decreasing_urgency",
    "unimax_source_allocation",
    "heaps_law_vocab_growth",
    "ks_drift_user_cohort",
    "w1_drift_user_cohort",
    "scan_edge_similarity_items",
    "fd_profile_cust_priority",
    "wordpiece_encode_bpe_vocab",
    "rendezvous_shards_docs",
    "cuped_cohort_events",
    "scan_clusters_items",
    "did_cohort_events",
    "ppr_seeded_cooccurrence",
    "kneser_ney_bigram_lm",
    "rule_interest_measures",
    "negative_sampling_unigram",
    "shapley_attribution_events",
    "qq_deciles_user_cohort",
    # r10 additions (the first two derived from the shared pinned SCAN sigma)
    "clustering_coeff_items",
    "graph_transitivity_items",
    "truss_peel_items",
    # r11 additions: real Structured Streaming emission queries + the
    # re-implemented (universal-hash / md5-family) near-dup entries
    "streaming_tumbling_complete_events",
    "streaming_session_append_watermark",
    "simhash_near_dup",
    "approx_percentile_gk_bounds",
    "streaming_dedup_within_watermark",
]

# The recorded-baseline comparison set (BASELINE.md "12-query core") —
# this is what the compact driver-facing stdout line carries. The full
# per-query + shuffle detail goes to BENCH.json on disk: the driver's
# per-round capture keeps only a ~2 KB stdout tail, which a 148-entry
# single JSON line overflows (BENCH_r04..r08 all have "parsed": null).
CORE = [
    "cooccurrence_pairs",
    "cooccurrence_topk",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "window_running_orders",
    "topk_orders_per_customer",
    "events_sessionize",
    "dedup_exact",
    "minhash_near_dup",
    "text_stats",
    "embedding_topk",
]


def _shuffle_totals(ui_url: str) -> tuple[int, int]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all stages,
    from the Spark status REST API. Returns (0, 0) if the UI is off."""
    try:
        apps = json.load(
            urllib.request.urlopen(f"{ui_url}/api/v1/applications", timeout=5)
        )
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(
                f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=5,
            )
        )
        return (
            sum(s.get("shuffleReadBytes", 0) for s in stages),
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
        )
    except Exception:  # noqa: BLE001  (UI disabled or API shape change)
        return (0, 0)


# Multi-second heavies with real parallelism at sf>=0.1 — the probe set
# for --scaling (the CORE 12 are sub-second latency-bound queries that
# cannot show core-scaling at sf0.1; these can — r12 VERDICT item 2).
SCALING_PROBE = [
    "containment_near_dup",
    "truss_peel_items",
    "scan_clusters_items",
    "kcore_peel_items",
    "cooccurrence_pairs",
]


def _run_scaling_child(sf_dir: str, cpus: int, repeat: int) -> dict:
    """Re-invoke this script at a different core count and return its
    per-query timings (a SparkSession's master is fixed at creation, so
    the low-core pass needs its own JVM)."""
    import tempfile

    out = tempfile.mktemp(prefix="bench_scaling_", suffix=".json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_BENCH_OUT"] = out
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--only", *SCALING_PROBE,
         "--repeat", str(repeat)],
        env=env,
        check=True,
        stdout=subprocess.DEVNULL,
        stderr=sys.stderr,
    )
    with open(out) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--scaling", action="store_true",
                    help="run the SCALING_PROBE heavies at $SPARK_GRAFT_CPUS "
                         "and local[8], print high/low-core wall ratios")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    if args.scaling:
        args.only = list(SCALING_PROBE)

    import __spark_entry__ as entry_mod
    from probability_of_buying_two_products_together_hadoop_project_spark.session import (
        get_spark,
        local_cpus,
    )

    m = re.search(r"sf([0-9.]+)", args.sf_dir)
    sf = float(m.group(1)) if m else None

    # UI on so the status REST API can report per-query shuffle volume
    # retainedStages must exceed the suite's total stage count: the
    # before/after shuffle totals are differences of RETAINED-stage sums,
    # and eviction mid-suite makes a later total smaller than an earlier
    # one (observed as a negative per-query delta at ~40 queries)
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    ui_url = spark.sparkContext.uiWebUrl or "http://localhost:4040"
    # warm the JVM (codegen, ICU case tables, parquet reader) so the first
    # measured query isn't charged for one-time init
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = entry_mod.queries()
    names = args.only or [n for n in HEADLINE if n in qs]

    # Shared-evidence pin builds, timed COLD and first (r12 VERDICT item 1):
    # the per-query walls below are marginal (pins warmup-absorbed), so
    # these rows are the part of a cold session the query loop never sees.
    # Scoped --only runs skip this (their consumers pay/absorb the build in
    # their own warmup, the r10-r12 methodology, unchanged).
    pin_builds: dict[str, dict[str, float | int]] = {}
    if not args.only:
        from probability_of_buying_two_products_together_hadoop_project_spark import (
            registry as _registry,
        )

        for pname, builder in _registry.shared_evidence_builders().items():
            spark.sparkContext.setJobDescription(f"pin build: {pname}")
            pr0, pw0 = _shuffle_totals(ui_url)
            t0 = time.perf_counter()
            builder(spark, args.sf_dir)
            dt = time.perf_counter() - t0
            pr1, pw1 = _shuffle_totals(ui_url)
            pin_builds[pname] = {
                "sec": round(dt, 3),
                "shuffle_write_bytes": max(pw1 - pw0, 0),
            }
            print(
                f"# pin {pname}: {dt:.3f}s shuffleW={max(pw1 - pw0, 0)}",
                file=sys.stderr,
            )
        spark.sparkContext.setJobDescription(None)
    pin_total = round(sum(p["sec"] for p in pin_builds.values()), 3)

    timings: dict[str, float] = {}
    shuffle: dict[str, dict[str, int]] = {}
    for name in names:
        best = None
        # one untimed warmup per query so repeat=1 runs aren't charged for
        # first-touch costs (codegen for this plan shape, file listing) —
        # previously only the bucketed variant got this, biasing
        # bucketed-vs-baseline comparisons at repeat=1
        qs[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        r0, w0 = _shuffle_totals(ui_url)
        for _ in range(max(args.repeat, 1)):
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        r1, w1 = _shuffle_totals(ui_url)
        timings[name] = round(best, 3)
        # totals cover all repeats; divide for a per-run figure
        reps = max(args.repeat, 1)
        shuffle[name] = {
            # floor at 0: a negative difference can only be a UI
            # stage-eviction artifact, never real shuffle volume
            "read_bytes": max(r1 - r0, 0) // reps,
            "write_bytes": max(w1 - w0, 0) // reps,
        }
        print(f"# {name}: {best:.3f}s shuffleW={shuffle[name]['write_bytes']}",
              file=sys.stderr)

    # bucketed-layout flagship: materialize lineitem bucketed by the
    # basket key and re-run the flagship on it — the layout lever that
    # removes the dominant exchange entirely (BASELINE.md)
    if not args.only:
        import tempfile

        from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
        from probability_of_buying_two_products_together_hadoop_project_spark.sources import io as engine_io

        d = tempfile.mkdtemp(prefix="bench_bucketed_")
        li = engine_io.read_parquet(spark, os.path.join(args.sf_dir, "lineitem.parquet"))
        (
            li.write.mode("overwrite")
            .bucketBy(32, "l_orderkey")
            .option("path", d + "/li")
            .saveAsTable("bench_li_bucketed")
        )
        try:
            # one untimed warmup: the table was written moments ago by this
            # same JVM, so the first read pays freshly-committed-file
            # listing + codegen for the bucketed plan shape — measured
            # 4-6s cold vs ~1.4s steady-state, an artifact of the
            # write-then-read-immediately bench harness, not of the layout
            basket.cooccurrence_pairs(
                basket.baskets_from_lineitem(spark.table("bench_li_bucketed"))
            ).write.format("noop").mode("overwrite").save()
            best = None
            for _ in range(max(args.repeat, 1)):
                t0 = time.perf_counter()
                df = basket.cooccurrence_pairs(
                    basket.baskets_from_lineitem(spark.table("bench_li_bucketed"))
                )
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings["cooccurrence_pairs_bucketed"] = round(best, 3)
            print(f"# cooccurrence_pairs_bucketed: {best:.3f}s", file=sys.stderr)
        finally:
            spark.sql("DROP TABLE IF EXISTS bench_li_bucketed")

    total = round(sum(timings.values()), 3)

    # Host-factor normalization (BASELINE.md method; mirrors
    # tools/bench_diff.py): walls are host-confounded (same code
    # measured 0.85x-1.15x of baseline within an hour in r11), so
    # compute the median wall ratio vs the last COMMITTED BENCH.json
    # over shuffle-byte-stable queries — their plans provably did not
    # move, so the ratio is pure hardware — and report a normalized
    # total next to the raw one. Round-over-round comparisons read the
    # normalized figure; per-query regressions still gate on shuffle
    # bytes via bench_diff.
    cpus = local_cpus()
    host_factor = None
    host_pool_n = 0
    try:
        prev = json.loads(
            subprocess.run(
                ["git", "show", "HEAD:BENCH.json"],
                capture_output=True,
                text=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            ).stdout
        )
        # a record taken at a different core count is not a host baseline
        # (the r12 c8 run overwrote BENCH.json and poisoned the ratio)
        if str(prev.get("cpus", "32")) != cpus:
            raise ValueError(
                f"committed record cpus={prev.get('cpus')} != current {cpus}"
            )
        bq, bs2 = prev.get("queries") or {}, prev.get("shuffle_bytes") or {}
        common = [q for q in bq if q in timings]
        stable = [
            q
            for q in common
            if q in bs2
            and q in shuffle
            and bs2[q].get("write_bytes") == shuffle[q]["write_bytes"]
        ]
        pool = stable if len(stable) >= 5 else common
        ratios = [timings[q] / bq[q] for q in pool if bq[q] > 0]
        if ratios:
            host_factor = round(statistics.median(ratios), 4)
            host_pool_n = len(pool)
    except Exception as e:  # noqa: BLE001  (no git / first run / parse)
        print(f"# host-factor baseline unavailable: {e}", file=sys.stderr)

    detail = {
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "shuffle_bytes": shuffle,
        "sf": sf,
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "pin_builds": pin_builds,
        "pin_total_sec": pin_total,
        "cold_total_sec": round(total + pin_total, 3),
        "host_factor": host_factor,
        "host_factor_pool_n": host_pool_n,
        "normalized_total_sec": (
            round(total / host_factor, 3) if host_factor else None
        ),
    }
    # full detail (all queries + shuffle volume) to disk; stdout gets ONE
    # compact line the driver's 2 KB tail capture can always parse.
    # A scoped --only run must NOT clobber the committed full-suite
    # BENCH.json — it writes only when the path is explicitly given.
    # A full run at a non-default core count writes BENCH_c{N}.json so a
    # low-core pass never clobbers the committed 32-core record (the r12
    # c8 run did exactly that — VERDICT r12 item 2).
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path is None and not args.only:
        fname = "BENCH.json" if cpus == "32" else f"BENCH_c{cpus}.json"
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), fname
        )
    if out_path:
        try:
            with open(out_path, "w") as f:
                json.dump(detail, f)
                f.write("\n")
            print(f"# full detail written to {out_path}", file=sys.stderr)
        except OSError as e:
            print(f"# could not write {out_path}: {e}", file=sys.stderr)
    else:
        print("# scoped --only run: BENCH.json left untouched", file=sys.stderr)
    scaling = None
    if args.scaling:
        # low-core pass in a fresh JVM (master is fixed per session), then
        # wall ratios: ratio ≈ 1 = latency-bound, ratio ≈ 32/8 = compute-
        # bound with full core scaling at this SF
        low = _run_scaling_child(args.sf_dir, 8, args.repeat)
        lowq = low.get("queries") or {}
        scaling = {
            "cpus_hi": int(cpus) if cpus.isdigit() else cpus,
            "cpus_lo": 8,
            "hi_sec": {q: timings[q] for q in SCALING_PROBE if q in timings},
            "lo_sec": {q: lowq.get(q) for q in SCALING_PROBE},
            "lo_over_hi": {
                q: round(lowq[q] / timings[q], 3)
                for q in SCALING_PROBE
                if timings.get(q) and lowq.get(q)
            },
        }
        print(f"# scaling lo/hi ratios: {scaling['lo_over_hi']}",
              file=sys.stderr)

    core = {k: timings[k] for k in CORE if k in timings}
    line = {
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": core,
        "core_total_sec": round(sum(core.values()), 3),
        "n_queries": len(timings),
        "sf": sf,
        "pin_total_sec": pin_total,
        "cold_total_sec": round(total + pin_total, 3),
        "host_factor": host_factor,
        "normalized_total_sec": (
            round(total / host_factor, 3) if host_factor else None
        ),
    }
    if scaling is not None:
        line["scaling"] = scaling
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
