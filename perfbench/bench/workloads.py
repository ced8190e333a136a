"""The benchmark's workloads and fixed run settings.

Each workload is a list of `SparkEntry.queries` keys run back to back
by one client thread, at one scale, after the named families'
`warmCaches`. The seed only sets the query order within each pass.
Why each workload was chosen is in perfbench/README.md.
"""

# local[CORES]: fixed, and half of the 4 cores of the host the benchmark
# was defined on. At sf0.01 warm passes took as long at local[2] as at
# local[4], and the spare cores take the JIT compiler, GC and other
# processes, which at local[4] stalled whole stages.
CORES = 2
# Driver heap, fixed (-Xms = -Xmx).
HEAP = "3g"
# Set-ups per run; setup_s is their median.
SETUPS = 3
# Warm passes per run at the least, whatever --seconds allows. A traced
# run alternates untraced and traced passes: three untraced, two traced.
MIN_PASSES = 3
MIN_TRACED_PASSES = 5


def min_passes(trace):
    return MIN_TRACED_PASSES if trace else MIN_PASSES


WORKLOADS = {
    "gm_flatfile": {
        "scale": "sf0.01",
        "warm": ["GeoOps"],
        "queries": [
            "aftershock_clusters", "streaming_db_upsert", "db_upsert",
            "im_rotd", "tect_domain", "q_catalog", "quality_score_min",
            "ccld_mw_scaling",
        ],
    },
    "corpus_curation": {
        "scale": "sf0.01",
        "warm": ["TextOps", "MixOps"],
        "queries": [
            "dedup_minhash", "dedup_fingerprint", "streaming_corpus_filter",
            "token_budget_mix", "hll_distinct", "sessionize", "multimodal_dedup",
            "ann_cosine_topk",
        ],
    },
}
