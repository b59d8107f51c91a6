"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementation lives in ``week3_2_practice_big_data__spark`` (see
SURVEY.md §2 for the key inventory); this module only adapts the engine's
query REGISTRY to the driver's three-function surface.

The driver checks a bounded prefix (~50 keys) of ``queries()``; that key
order is derived from the committed ``CORRECTNESS_r*.json`` artifacts
(``green_rounds`` / ``ordered_keys``), never kept by hand.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from week3_2_practice_big_data__spark import REGISTRY  # noqa: E402
from week3_2_practice_big_data__spark.session import ensure_session_confs  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "agg_groupby_multi"

# Keys whose builder or oracle changed after their last green driver row,
# each mapped to the newest CORRECTNESS round that predates the change. A
# key leads the window only while its last green round is <= its tag, so an
# entry expires by itself once a later artifact verifies the new code.
CHANGED: dict[str, str] = {
    # result/relation rows built as JVM literal rows (common.local_rows_df)
    "dq_observe_metrics": "r14",
    "stream_observe_metrics": "r14",
    "stream_query_listener": "r14",
    "sink_python_datasource": "r14",
    "sink_python_datasource_arrow": "r14",
    "agg_freq_items": "r14",
    "agg_approx_quantile": "r14",
    "agg_cov_corr": "r14",
    "agg_sample_by": "r14",
    "agg_random_split": "r14",
    "agg_describe_summary": "r14",
    "reshape_transpose": "r14",
    # fewer micro-batches: 2 files per trigger, third sentinel chunk,
    # coalesce(1) before Python sinks, larger source chunks
    "stream_watermark_late": "r14",
    "stream_rocksdb_state": "r14",
    "stream_custom_state": "r14",
    "stream_pipeline_e2e": "r14",
    "stream_python_datasource_sink": "r14",
    "stream_python_datasource_sink_arrow": "r14",
    "stream_sink_foreach_rows": "r14",
    "stream_chained_join_agg": "r14",
    "stream_session_window_native": "r14",
    "stream_stream_outer_join": "r14",
    "src_python_datasource_stream": "r14",
    # every streaming query now runs through streams._run_stream
    "stream_dedup_state": "r14",
    "stream_tumbling_file_rate": "r14",
    "stream_foreachbatch": "r14",
    "stream_stream_join": "r14",
    "stream_static_join": "r14",
    "stream_sink_parquet": "r14",
    "stream_rate_source": "r14",
    "stream_unbounded_socket": "r14",
    "stream_event_pattern_cep": "r14",
    "stream_dedup_within_watermark": "r14",
    "stream_checkpoint_restart": "r14",
    "src_statestore_read": "r14",
    "src_statestore_changefeed": "r14",
    "stream_trigger_availablenow": "r14",
    # derived relations registered through advanced._scoped_view
    "iter_gd_logreg": "r14",
    "win_islands_blocked": "r14",
    "iter_als_rank2": "r14",
    # shared relations cached through common.session_cached / checkpointed
    "agg_sketch_kmv_intersect": "r14",
    "win_pareto_abc": "r14",
    "win_funnel_conversion": "r14",
    "ns_dedup_ngram_jaccard": "r14",
    "ns_dedup_minhash": "r14",
    "ns_dedup_simhash": "r14",
    "ns_dedup_cluster": "r14",
    "ns_text_tfidf": "r14",
    "ns_text_langid": "r14",
    "ns_text_bm25": "r14",
    "ns_vocab_coverage": "r14",
    "ml_naive_bayes": "r14",
    "ns_dedup_embed_cosine": "r14",
    "ns_sim_ann_lsh": "r14",
    "ns_semdedup": "r14",
    "ml_knn_classify": "r14",
    "ml_decision_stump": "r14",
    "ml_gbt_boost2": "r14",
    "gen_poster_caption": "r14",
    "sink_binary_export": "r14",
    "proj_resample_bilinear": "r14",
    "sink_binary_export_hires": "r14",
    "sink_binary_export_tiled": "r14",
    "gen_poster_shadow": "r14",
    "gen_poster_shadow_blur": "r14",
    "ns_multimodal_cols": "r14",
    "ns_mm_decode_meta": "r14",
    "ns_mm_feature_stub": "r14",
    "ns_mm_resize": "r14",
    "ns_mm_frame_sample": "r14",
    "src_binary_files": "r14",
    "ns_mm_image_phash": "r14",
    "ns_mm_scene_cut": "r14",
    "ns_mm_pipeline_e2e": "r14",
    "iter_pagerank_tokens": "r14",
    "iter_connected_components": "r14",
    "dq_distribution_drift": "r14",
    "dq_rowcount_anomaly": "r14",
    "graph_triangle_count": "r14",
    "graph_bipartite_jaccard": "r14",
    "graph_resource_alloc": "r14",
    "graph_clustering_coeff": "r14",
    "graph_degree_distribution": "r14",
    "iter_bfs_sssp": "r14",
    "ts_downsample_lttb": "r14",
    "ts_autocorr": "r14",
    "ts_cross_corr": "r14",
    "ns_text_pmi": "r14",
    "ns_domain_mix": "r14",
    "ns_domain_temperature": "r14",
    "ns_kn_bigram": "r14",
    "ns_dedup_incremental": "r14",
    "ns_dedup_incremental_persist": "r14",
    "ns_ann_knn_join": "r14",
    "ns_text_perplexity": "r14",
    "ns_sample_importance": "r14",
    "ns_dedup_substring": "r14",
    "ns_decontaminate_bloom": "r14",
    "ns_pipeline_e2e": "r14",
    "ns_curriculum_order": "r14",
}

_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _round(tag: str) -> int:
    return int(tag.removeprefix("r"))


def _is_green(has_oracle: bool, row: Mapping) -> bool:
    if has_oracle:
        checks = ("hash_match", "rows_match", "schema_match")
        return row["err"] is None and all(row[c] is True for c in checks)
    return row["err"] in (None, "no_oracle") and row["spark_rows"] is not None


def green_rounds(root: str = _REPO) -> dict[str, tuple[str, str]]:
    """Each registered key's (first, last) green driver round, e.g. ``("r03",
    "r11")``, from ``root``'s CORRECTNESS_r*.json; never-green keys are absent."""
    artifacts = sorted(
        (int(m.group(1)), name)
        for name in os.listdir(root)
        if (m := _ARTIFACT.fullmatch(name))
    )
    table: dict[str, tuple[str, str]] = {}
    for n, name in artifacts:
        tag = f"r{n:02d}"
        with open(os.path.join(root, name)) as f:
            rows = json.load(f)
        for key, row in rows.items():
            if key in REGISTRY and _is_green(REGISTRY[key].oracle is not None, row):
                first = table[key][0] if key in table else tag
                table[key] = (first, tag)
    return table


def ordered_keys(
    green: Mapping[str, tuple[str, str]] | None = None,
    changed: Mapping[str, str] = CHANGED,
) -> list[str]:
    """Registry keys in driver-window order: unexpired ``changed`` keys
    (in listed order), then keys never green, then keys by last green
    round, oldest first, in registration order within a round."""
    if green is None:
        green = green_rounds()
    lead = [
        k for k, tag in changed.items()
        if k in REGISTRY and (k not in green or _round(green[k][1]) <= _round(tag))
    ]
    leading = set(lead)
    rest = [k for k in REGISTRY if k not in leading]
    rest.sort(key=lambda k: _round(green[k][1]) if k in green else -1)
    return lead + rest


def _tuned(builder: Callable[[SparkSession, str], DataFrame]):
    """Apply runtime session confs (timezone, ns-parquet, AQE, shuffle
    partitions) before building — the driver hands us its own session."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_confs(spark)
        return builder(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape, SURVEY §7.1 M1) on sf0.001."""
    return _tuned(REGISTRY[FLAGSHIP].builder)(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator key from SURVEY.md §2."""
    return {key: _tuned(REGISTRY[key].builder) for key in ordered_keys()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per key (omitted → rows-only check)."""
    return {
        key: REGISTRY[key].oracle
        for key in ordered_keys()
        if REGISTRY[key].oracle is not None
    }
