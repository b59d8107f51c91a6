"""Benchmark workloads and the layer map they are read against.

Each workload is a list of registry keys run at one scale factor; why it
was chosen is stated in ``BENCHMARK.json``. ``LAYERS`` records, per layer
metric family, which end-to-end metric it should move on which workload
("moves") and where it should stay flat ("quiet_on"), so a later
performance change can name the metric and workload it claims.
"""

from __future__ import annotations

WORKLOADS = {
    "batch_sf1": {
        "sf": "sf1",
        "keys": ["join_q3_shipping_priority"],
    },
    "llm_prep_sf0.1": {
        "sf": "sf0.1",
        "keys": ["ns_mm_pipeline_e2e", "udf_arrow_map"],
    },
    "stream_sf0.1": {
        "sf": "sf0.1",
        "keys": ["stream_rocksdb_state"],
    },
}

# Keys named for each workload that the timed passes leave out. Every run
# pays a fresh driver process (about 11 s of setup), a cold pass and at
# least three warm passes, and a full benchmark of 70 runs has to finish
# within an hour on 4 cores, so a workload keeps the fewest keys that
# still exercise its layers; these are the candidates for a wider one.
TRIMMED = {
    "batch_sf1": [
        "agg_groupby_multi",
        "join_q5_region_volume",
        "join_q9_product_profit",
        "win_conv1d_frame",
        "sort_orderby",
        "gen_poster_full",
        "win_conv2d_separable",
        "filt_point_in_polygon",
    ],
    "llm_prep_sf0.1": [
        "ns_pipeline_e2e",
        "ns_dedup_minhash",
        "ns_text_perplexity",
        "ns_semdedup",
        "ns_bpe_encode",
    ],
    "stream_sf0.1": [
        "stream_pipeline_e2e",
        "stream_session_window_native",
        "stream_custom_state",
        "stream_watermark_late",
    ],
}

LAYERS = {
    "session": {
        "metrics": ["session.import_s", "session.start_s"],
        "moves": {"setup_s": ["batch_sf1", "llm_prep_sf0.1", "stream_sf0.1"]},
        "quiet_on": {},
    },
    "registry": {
        "metrics": [
            "registry.build_cold_s",
            "registry.build_warm_s",
            "registry.build_jobs",
        ],
        "moves": {
            "cold_pass_s": ["llm_prep_sf0.1"],
            "warm_pass_s": ["stream_sf0.1"],
        },
        "quiet_on": {"warm_pass_s": ["batch_sf1"]},
    },
    "plan": {
        "metrics": ["plan.optimize_s", "plan.exchanges", "plan.python_nodes"],
        "moves": {"cold_pass_s": ["batch_sf1"]},
        "quiet_on": {"cold_pass_s": ["stream_sf0.1"]},
    },
    "exec": {
        "metrics": ["exec.s", "exec.jobs", "exec.stages", "exec.tasks"],
        "moves": {"warm_pass_s": ["batch_sf1"]},
        "quiet_on": {"warm_pass_s": ["stream_sf0.1"]},
    },
    "executor": {
        "metrics": [
            "executor.run_s",
            "executor.cpu_s",
            "executor.gc_s",
            "scan.time_s",
            "shuffle.write_mb",
            "shuffle.read_mb",
            "spill.mb",
            "executor.tasks_failed",
        ],
        "moves": {"warm_pass_s": ["batch_sf1"]},
        "quiet_on": {"warm_pass_s": ["stream_sf0.1"]},
    },
    # Peak resident memory of the driver's process tree (driver, JVM,
    # Python workers); it grows with relations cached by checkpointed().
    # It is not an end-to-end metric because G1 heap sizing moves it by
    # 15-30% between identical runs.
    "memory": {
        "metrics": ["memory.peak_rss_mb"],
        "moves": {},
        "quiet_on": {},
    },
    "python": {
        "metrics": [
            "python.boot_s",
            "python.init_s",
            "python.run_s",
            "python.sent_mb",
            "python.recv_mb",
        ],
        "moves": {
            "cold_pass_s": ["llm_prep_sf0.1"],
            "warm_pass_s": ["llm_prep_sf0.1"],
        },
        "quiet_on": {"warm_pass_s": ["batch_sf1"]},
    },
    "streaming": {
        "metrics": [
            "stream.batches",
            "stream.data_batch_ratio",
            "stream.trigger_s",
            "stream.add_batch_s",
            "stream.state_commit_s",
            "stream.state_rows",
        ],
        "moves": {"warm_pass_s": ["stream_sf0.1"]},
        "quiet_on": {"warm_pass_s": ["batch_sf1", "llm_prep_sf0.1"]},
    },
    "oracle": {
        "metrics": ["oracle.checked", "oracle.mismatched"],
        "moves": {"failed_frac": ["batch_sf1", "llm_prep_sf0.1", "stream_sf0.1"]},
        "quiet_on": {},
    },
}
