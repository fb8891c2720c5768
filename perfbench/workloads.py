"""The benchmark's workloads: the registered queries one pass runs, the
untimed warm-up passes set-up pays, and the scale factor of the
generated inputs.  Each workload's reason is recorded in
``BENCHMARK.json``."""

SF = 0.1

WORKLOADS = {
    "read_scan": (
        "q1_pricing_summary", "q6_forecast_revenue", "op_slice_range",
        "op_slice_prefix", "op_join_inner", "op_repartition_range",
        "op_collate", "op_reindex_bounds", "op_write_roundtrip"),
    "pipeline_iter": (
        "sim_kmeans_train", "dedup_ngram_jaccard", "text_quality_score",
        "mm_byte_histogram"),
}

#: untimed passes in set-up.  After one warm-up pass, pipeline_iter's
#: next pass was still up to 35% slower than the one after it (JIT,
#: Python workers), so set-up pays two there.  Passes keep getting a
#: little faster after that, but a third pipeline_iter warm-up pass
#: (~6 s) or a second read_scan one (~12 s) takes runs on a busy
#: machine past a minute.
WARMUP_PASSES = {"read_scan": 1, "pipeline_iter": 2}
