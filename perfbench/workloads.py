"""The benchmark's workloads and its per-layer metric names.

Each workload is a fixed op list over inputs generated from the seed.
`sf` scales the star schema and events (sf 1 = 6 M lineitem rows),
`docs`/`vecs` size the documents and embeddings tables, `taxi_mb` the
CSV corpus. After an untimed check pass and `warm_passes` untimed passes,
a run makes `passes` timed passes per 10 s of `--seconds` (at least one),
so every run of a workload does the same work. Why each workload exists,
and its first numbers, are in NOTES.md.
"""

WORKLOADS = {
    # sources scan/probe and functions parse in one fused stage; almost
    # no planning, shuffle or fixpoint work
    "taxi_ingest": {
        "ops": ["taxi_avg_speed_faithful", "taxi_avg_speed_weighted"],
        "sf": 0.001, "docs": 50, "vecs": 50, "taxi_mb": 32, "passes": 5,
        "warm_passes": 2,
    },
    # short queries whose fixed planning, scheduling, broadcast and
    # shuffle costs dominate a tiny scan; run in seed-permuted order
    "relational_mix": {
        "ops": ["q1_pricing_summary", "q3_shipping_priority", "q25_percentiles",
                "q27_approx_distinct", "q53_sole_late_supplier", "w3_session_window"],
        "sf": 0.01, "docs": 500, "vecs": 500, "taxi_mb": 0, "passes": 3,
        "warm_passes": 2,
        "permute": True,
    },
    # driver-side round loops and shuffle-heavy pair generation in the
    # custom kernels
    "corpus_iterative": {
        "ops": ["g1_pagerank", "g5_coreness", "g8_reachability", "g10_shortest_paths",
                "d9_dedup_clusters", "d13_embedding_clusters",
                "d2_jaccard_pairs", "d3_minhash_pairs", "d8_containment_pairs",
                "d29_edit_distance_pairs", "s4_knn_join"],
        "sf": 0.01, "docs": 500, "vecs": 500, "taxi_mb": 0, "passes": 1,
        "warm_passes": 0,
    },
    # store-writing queries, each from an empty store: publish, then read
    "lakehouse_write": {
        "ops": ["q78_bucketed_join", "q88_upsert_publish", "q91_erase_cow",
                "q95_schema_evolution", "q97_optimize_compact", "q98_stats_skipping",
                "q99_zorder_skipping", "q100_change_feed", "q101_bloom_lookup",
                "q102_merge_dml", "q104_partition_evolution", "d30_persisted_lsh_dedup",
                "s14_ivf_persisted_topk"],
        "sf": 0.01, "docs": 500, "vecs": 500, "taxi_mb": 0, "passes": 1,
        "warm_passes": 0,
        "cold_stores": True,
    },
}

# (name, unit) of the end-to-end metrics a run prints as its result. They
# are CPU-seconds besides the set-up wall time: on a shared host whose
# CPUs are withheld in bursts, wall times of the same work spread by 20 %
# or more from run to run, CPU time far less.
E2E_METRICS = [
    ("setup_s", "s"),
    ("setup_cpu_s", "s"),
    ("pass_cpu_s", "s"),
]
# (name, unit) of the end-to-end metrics a run prints beside them and
# keeps in its artifact, without a bound: wall-time latencies, the per-op
# CPU median (it jumps between ops of different cost, spreading by 20 %),
# memory and the failure fraction (also the result's `failed`/`attempted`).
REPORTED_METRICS = [
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("op_p90_s", "s"),
    ("op_cpu_p50_s", "s"),
    ("ingest_mb_s", "MB/s"),
    ("peak_rss_mb", "MB"),
    ("op_fail_frac", "ratio"),
]

# (name, unit) of every per-layer metric a traced run reports. Counters
# and times are per pass (median over traced passes); the taxi ladder
# cuts are cumulative and only measured where the workload has a corpus.
LAYER_METRICS = [
    ("sources.list_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.accept_s", "s"),
    ("sources.input_mb", "MB"),
    ("sources.rows_accepted", "count"),
    ("functions.parse_s", "s"),
    ("functions.kernel_exprs", "count"),
    ("plans.plan_s", "s"),
    ("plans.exchanges", "count"),
    ("plans.broadcasts", "count"),
    ("operators.speed_s", "s"),
    ("operators.mean_s", "s"),
    ("operators.build_s", "s"),
    ("operators.exec_s", "s"),
    ("operators.build_jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.task_busy_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.task_wait_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"),
    ("spark.cache_peak_mb", "MB"),
    ("spark.gc_s", "s"),
    ("trace.overhead_s", "s"),
]
