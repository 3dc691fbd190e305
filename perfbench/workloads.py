"""The benchmark's workloads: which queries a pass runs, and why.

Each workload is a fixed subset of the lists in README.md, sized so that
one run (fresh JVM set-up, a cold pass, settle and warm passes and the
oracle check) stays near a minute on a 4-vCPU box. ``nominal_pass_s`` is
the warm pass time on that box; it only sets how many warm passes fit in
``--seconds``, and that count never depends on the seed or on the speed of
the code under test. ``settle_passes`` run after the cold pass and are left
out of the metrics: the batch rows are CPU-bound generated code whose JIT
keeps settling for several passes (over five seeds the median of warm
passes 1-4 spread 0.20, of passes 3-6 0.13; one settle pass is what the
time budget allows), while the streaming rows are dominated by fixed
per-batch costs and are steady from the first warm pass.
"""

WORKLOADS = {
    "batch-analytics": {
        "why": "read-only TPC-H rows with few large shuffles and an iterative graph row with"
               " many small jobs; no streaming and no stage builds (the bypass workload)",
        "queries": [
            "q01_pricing_summary",
            "q06_forecast_revenue",
            "q09_product_type_profit",
            "q22_global_sales_opportunity",
            "graph_cc_bipartite",
        ],
        "nominal_pass_s": 4.0,
        "settle_passes": 1,
    },
    "stream-replay": {
        "why": "the three PROTEUS side-input kinds, CEP timeouts and watermarked windows that"
               " drop late rows: micro-batch floor and state-store commits",
        "queries": [
            "stream_broadcast_side",
            "stream_forwarded_side",
            "stream_static_join",
            "cep_stream_timeout",
            "stream_allowed_lateness",
        ],
        "nominal_pass_s": 5.5,
        "settle_passes": 0,
    },
    "llm-curation": {
        "why": "native similarity kernels, wide dedup operators and cross-query stage builds"
               " that the cold pass writes and the warm passes read",
        "queries": [
            "sim_topk_bruteforce",
            "sim_pq_adc_topk",
            "sim_tfidf_topk",
            "dedup_simhash_pairs",
            "dedup_substring_spans",
        ],
        "nominal_pass_s": 3.0,
        "settle_passes": 0,
    },
}

# five queries times four passes gives the 20 per-query samples the median
# needs to have ten samples beyond it
MIN_WARM_PASSES = 4


def warm_passes(workload, seconds):
    """Warm passes for a run of ``seconds``: fixed per workload and length."""
    return max(MIN_WARM_PASSES, round(seconds / WORKLOADS[workload]["nominal_pass_s"]))
