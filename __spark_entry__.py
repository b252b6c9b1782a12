"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — name → (spark, sf_dir) -> DataFrame, one per operator
  (SURVEY.md §2.3).
``oracle_sql()`` — name → DuckDB SQL equivalent (omitted only for
  genuinely non-SQL-expressible ops → rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cs422pp_mapreduce_spark.session import apply_runtime_confs
from cs422pp_mapreduce_spark.oracles import ORACLES
from cs422pp_mapreduce_spark.operators import asof as AJ
from cs422pp_mapreduce_spark.operators import corpus as CP
from cs422pp_mapreduce_spark.operators import tpch as TQ
from cs422pp_mapreduce_spark.operators import dedup as D
from cs422pp_mapreduce_spark.operators import events as EV
from cs422pp_mapreduce_spark.operators import graph as GR
from cs422pp_mapreduce_spark.operators import maintenance as MT
from cs422pp_mapreduce_spark.operators import multimodal as MM
from cs422pp_mapreduce_spark.operators import relational as R
from cs422pp_mapreduce_spark.operators import similarity as S
from cs422pp_mapreduce_spark.operators import sqlsurface as SQ
from cs422pp_mapreduce_spark.operators import suffix as SX
from cs422pp_mapreduce_spark.operators import textops as TX
from cs422pp_mapreduce_spark.operators import tokenize as TK
from cs422pp_mapreduce_spark.operators.wordcount import wordcount
from cs422pp_mapreduce_spark.streaming.dedup import q_stream_dedup
from cs422pp_mapreduce_spark.streaming.events import (
    q_stream_event_recovery,
    q_stream_event_session,
    q_stream_event_tumbling,
    q_stream_foreach_upsert,
    q_stream_late_audit,
    q_stream_sliding,
)
from cs422pp_mapreduce_spark.streaming.joins import (
    q_stream_enrich,
    q_stream_interval_join,
)
from cs422pp_mapreduce_spark.streaming.stateful import (
    q_stream_cusum,
    q_stream_ewma,
    q_stream_profile,
    q_stream_twap,
)
from cs422pp_mapreduce_spark.streaming.quality import q_stream_quality_gate
from cs422pp_mapreduce_spark.streaming.wordcount import q_stream_wordcount

SMOKE_SF_DIR = "/root/testdata/sf0.001"

QueryFn = Callable[[SparkSession, str], DataFrame]


def _wrap(fn: QueryFn) -> QueryFn:
    """Ensure engine runtime confs (UTC session tz, AQE, Arrow) hold even
    on a driver-provided SparkSession."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        apply_runtime_confs(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


_QUERIES: dict[str, QueryFn] = {
    # NOTE (declared contract caveat, ADVICE r04/r06): q_ann_lsh runs
    # one bounded 1-row Spark job at plan-BUILD time (query-vector
    # fetch that plans its literal bucket predicate), q_bucketed_join
    # writes its two bucketed tables at build time (the write IS the
    # operator under test), q_bpe_train runs its bounded per-round
    # argmax jobs at build time, q_order_stat runs its count +
    # bounded <=1024-row histogram collects at build time (iterative
    # selection is driver-paced by nature), and q_bloom_semi_join
    # builds its broadcast bitmap with one JVM-folded word-aggregate
    # collect bounded by BLOOM_M/64 = 16384 rows at build time (a
    # bloom filter is driver-resident index metadata by design);
    # every other query builds without executing anything (streaming
    # contract queries, order_stat, and bloom_semi_join are
    # intercepted by the lazy plan twins in plans/analysis.py for the
    # analysis tools).
    "tpch_q14": TQ.q_tpch_q14,
    "tpch_q18": TQ.q_tpch_q18,
    "tpch_q7": TQ.q_tpch_q7,
    "tpch_q13": TQ.q_tpch_q13,
    "tpch_q15": TQ.q_tpch_q15,
    "tpch_q17": TQ.q_tpch_q17,
    "tpch_q19": TQ.q_tpch_q19,
    "tpch_q22": TQ.q_tpch_q22,
    "exact_distinct_agg": R.q_exact_distinct_agg,
    "dedup_substring": D.q_dedup_substring,
    "audio_meta": MM.q_audio_meta,
    "tpch_q4": TQ.q_tpch_q4,
    "media_pipeline": MM.q_media_pipeline,
    "seq_length_histogram": TX.q_seq_length_histogram,
    "pca_power": S.q_pca_power,
    "image_jpeg_ahash": MM.q_image_jpeg_ahash,
    "stream_twap": q_stream_twap,
    "stream_cusum": q_stream_cusum,
    "audio_features": MM.q_audio_features,
    "video_frame_stats": MM.q_video_frame_stats,
    "cms_topgrams": TX.q_cms_topgrams,
    "ngram_novelty_bloom": D.q_ngram_novelty_bloom,
    "funnel": EV.q_funnel,
    "inverted_index": TX.q_inverted_index,
    "map_funcs": R.q_map_funcs,
    "tpch_q12": TQ.q_tpch_q12,
    "curation_report": CP.q_curation_report,
    "doc_winnow": TX.q_doc_winnow,
    "video_meta": MM.q_video_meta,
    "tpch_q11": TQ.q_tpch_q11,
    "tpch_q16": TQ.q_tpch_q16,
    "tpch_q21": TQ.q_tpch_q21,
    "tpch_q2": TQ.q_tpch_q2,
    "tpch_q9": TQ.q_tpch_q9,
    "tpch_q20": TQ.q_tpch_q20,
    # quality_classifier: fastText-style linear quality scorer —
    # hashed unigram+bigram features (4096 shared buckets, md5-prefix
    # convention), closed-form multinomial-NB log-count-ratio weights
    # fit on the deterministic md5-bucket labeled slice, decimal-routed
    # scoring.
    "quality_classifier": TX.q_quality_classifier,
    # decontaminate_semantic: the embedding tier of decontamination —
    # train vectors probing the broadcast eval sign-LSH band index,
    # candidates exact-cosine verified.
    "decontaminate_semantic": S.q_decontaminate_semantic,
    # quality_classifier_report: the learned model's train-vs-
    # heldout confusion matrix + rates as a driver-verified artifact
    # (the ann_recall_report pattern applied to the curation model).
    "quality_classifier_report": TX.q_quality_classifier_report,
    # stream_quality_gate: the fitted model deployed at crawl-
    # ingest — staged-file document stream scored against the static
    # weight table, calibrated-threshold admission. Build-time jobs:
    # the model fit + two bounded 1-row collects (bias, threshold),
    # the q_ann_lsh contract-caveat class; the analysis tools use its
    # lazy batch twin (plans/analysis.py).
    "stream_quality_gate": q_stream_quality_gate,
    "stream_event_tumbling": q_stream_event_tumbling,
    "stream_event_session": q_stream_event_session,
    "dedup_clusters_exact": D.q_dedup_clusters_exact,
    "dedup_incremental": D.q_dedup_incremental,
    "source_cap": CP.q_source_cap,
    "ngram_novelty": D.q_ngram_novelty,
    "wordcount": wordcount,
    "scan_project": R.q_scan_project,
    "filter_pred": R.q_filter_pred,
    "group_agg": R.q_group_agg,
    "skewed_agg": R.q_skewed_agg,
    "hash_join": R.q_hash_join,
    "broadcast_join": R.q_broadcast_join,
    "null_safe_join": R.q_null_safe_join,
    "semi_join": R.q_semi_join,
    "anti_join": R.q_anti_join,
    "union_distinct": R.q_union_distinct,
    "topk": R.q_topk,
    "window_rank": R.q_window_rank,
    "latest_order": R.q_latest_order,
    "revenue_share": R.q_revenue_share,
    "global_rank": R.q_global_rank,
    "count_distinct": R.q_count_distinct,
    "rollup_agg": R.q_rollup_agg,
    "percentile_agg": R.q_percentile_agg,
    "price_histogram": R.q_price_histogram,
    "table_profile": R.q_table_profile,
    "string_funcs": R.q_string_funcs,
    "date_funcs": R.q_date_funcs,
    "grouping_sets": SQ.q_grouping_sets,
    "sql_subquery": SQ.q_sql_subquery,
    "unpivot": R.q_unpivot,
    "event_tumbling": EV.q_event_tumbling,
    "event_session": EV.q_event_session,
    "kll_quantiles": R.q_kll_quantiles,
    "approx_agg": R.q_approx_agg,
    "rolling_hll": EV.q_rolling_hll,
    "hll_distinct": R.q_hll_distinct,
    "hybrid_rrf": TX.q_hybrid_rrf,
    "hll_bound": R.q_hll_bound,
    "triangle_count": GR.q_triangle_count,
    "source_divergence": TX.q_source_divergence,
    "skyline": R.q_skyline,
    "phrase_search": TX.q_phrase_search,
    "pit_join": MT.q_pit_join,
    "event_transitions": EV.q_event_transitions,
    "stream_dedup": q_stream_dedup,
    "stream_interval_join": q_stream_interval_join,
    "stream_profile": q_stream_profile,
    "skew_join": R.q_skew_join,
    "embedding_quantize": S.q_embedding_quantize,
    "compaction_plan": MT.q_compaction_plan,
    "stream_wordcount": q_stream_wordcount,
    "bucketed_join": MT.q_bucketed_join,
    "stream_enrich": q_stream_enrich,
    "csv_roundtrip": MT.q_csv_roundtrip,
    "json_roundtrip": MT.q_json_roundtrip,
    "orc_roundtrip": MT.q_orc_roundtrip,
    "bm25_topk": TX.q_bm25_topk,
    "training_shards": CP.q_training_shards,
    "stream_event_recovery": q_stream_event_recovery,
    "dedup_incremental_2batch": D.q_dedup_incremental_2batch,
    "events_partitioned": EV.q_events_partitioned,
    "range_join": AJ.q_range_join,
    "tpch_q6": TQ.q_tpch_q6,
    "tpch_q5": TQ.q_tpch_q5,
    "tpch_q10": TQ.q_tpch_q10,
    "sql_cte_topnation": SQ.q_sql_cte_topnation,
    "event_rollup": SQ.q_event_rollup,
    "pivot_status": SQ.q_pivot_status,
    "window_running": R.q_window_running,
    "window_lag": R.q_window_lag,
    "window_misc": R.q_window_misc,
    "cube_agg": R.q_cube_agg,
    "stats_agg": R.q_stats_agg,
    "collect_agg": R.q_collect_agg,
    "having": R.q_having,
    "multi_join_agg": R.q_multi_join_agg,
    "outer_join": R.q_outer_join,
    "cross_join": R.q_cross_join,
    "bloom_semi_join": R.q_bloom_semi_join,
    "triangle_count_sampled": GR.q_triangle_count_sampled,
    "dedup_incremental_near": D.q_dedup_incremental_near,
    "token_count_bpe": TK.q_token_count_bpe,
    "seq_pack_bpe": TK.q_seq_pack_bpe,
    "dedup_containment": D.q_dedup_containment,
    "bigram_logprob": TX.q_bigram_logprob,
    "attribution": EV.q_attribution,
    "funnel_windowed": EV.q_funnel_windowed,
    "source_overlap": TX.q_source_overlap,
    "table_diff": MT.q_table_diff,
    "dq_report": MT.q_dq_report,
    "bfs_reach": GR.q_bfs_reach,
    "max_concurrency": EV.q_max_concurrency,
    "order_stat": R.q_order_stat,
    "resample_ohlc": EV.q_resample_ohlc,
    "pps_sample": TX.q_pps_sample,
    "png_meta": MM.q_png_meta,
    "jpeg_meta": MM.q_jpeg_meta,
    "stream_foreach_upsert": q_stream_foreach_upsert,
    "zorder_stats": MT.q_zorder_stats,
    "dedup_keep": D.q_dedup_keep,
    "knn_join": S.q_knn_join,
    "topk_similarity": S.q_topk_similarity,
    "union_all": R.q_union_all,
    "except_op": R.q_except_op,
    "intersect_op": R.q_intersect_op,
    "case_expr": R.q_case_expr,
    "null_handling": R.q_null_handling,
    "array_funcs": R.q_array_funcs,
    "string_funcs2": R.q_string_funcs2,
    "date_funcs2": R.q_date_funcs2,
    "math_funcs": R.q_math_funcs,
    "json_funcs": R.q_json_funcs,
    "asof_join": AJ.q_asof_join,
    "tpch_q3": TQ.q_tpch_q3,
    "corpus_prep": CP.q_corpus_prep,
    "merge_upsert": MT.q_merge_upsert,
    "text_stats": TX.q_text_stats,
    "lang_id": TX.q_lang_id,
    "tfidf": TX.q_tfidf,
    "keyword_extract": TX.q_keyword_extract,
    "doc_chunk": TX.q_doc_chunk,
    "dedup_exact": D.q_dedup_exact,
    "corpus_to_sequences": CP.q_corpus_to_sequences,
    "label_centroid": S.q_label_centroid,
    "media_meta": MM.q_media_meta,
    "corpus_pipeline": CP.q_corpus_pipeline,
    "fuzzy_name_match": D.q_fuzzy_name_match,
    "bpe_train": TK.q_bpe_train,
    "bpe_vocab": TK.q_bpe_vocab,
    "ann_recall_report": S.q_ann_recall_report,
    "semantic_dedup": S.q_semantic_dedup,
    "dedup_ngram": D.q_dedup_ngram,
    "sssp": GR.q_sssp,
    "ewma_smooth": EV.q_ewma_smooth,
    "stream_ewma": q_stream_ewma,
    "cluster_silhouette": S.q_cluster_silhouette,
    "dedup_minhash": D.q_dedup_minhash,
    "dedup_clusters": D.q_dedup_clusters,
    "embedding_neardup": S.q_embedding_neardup,
    "ann_lsh": S.q_ann_lsh,
    "ann_pq": S.q_ann_pq,
    "text_roundtrip": MT.q_text_roundtrip,
    "pagerank": GR.q_pagerank,
    "dedup_substring_apply": D.q_dedup_substring_apply,
    "kmeans_clusters": S.q_kmeans_clusters,
    "linreg_ols": R.q_linreg_ols,
    "zscore_outliers": EV.q_zscore_outliers,
    "entity_match": R.q_entity_match,
    "image_ahash": MM.q_image_ahash,
    "corr_matrix": R.q_corr_matrix,
    "stream_sliding": q_stream_sliding,
    "twap": EV.q_twap,
    "cusum_drift": EV.q_cusum_drift,
    "image_resize": MM.q_image_resize,
    "stratified_split": TX.q_stratified_split,
    "negative_sampling": TX.q_negative_sampling,
    "decay_agg": TX.q_decay_agg,
    "gap_fill": EV.q_gap_fill,
    "rolling_active_users": EV.q_rolling_active_users,
    "retention_cohorts": EV.q_retention_cohorts,
    "outlier_events": EV.q_outlier_events,
    "stratified_sample": TX.q_stratified_sample,
    "pii_redact": TX.q_pii_redact,
    "scd2_apply": MT.q_scd2_apply,
    "ann_ivf": S.q_ann_ivf,
    "media_frames": MM.q_media_frames,
    "event_session_native": EV.q_event_session_native,
    "event_sliding": EV.q_event_sliding,
    "window_range": EV.q_event_window_range,
    "quality_score": TX.q_quality_score,
    "doc_repetition": TX.q_doc_repetition,
    "quality_deciles": TX.q_quality_deciles,
    "token_count": TX.q_token_count,
    "doc_fingerprint": TX.q_doc_fingerprint,
    "deterministic_sample": TX.q_deterministic_sample,
    "mixture_rebalance": TX.q_mixture_rebalance,
    "stream_late_audit": q_stream_late_audit,
    "dedup_suffix": SX.q_dedup_suffix,
    "trigram_logprob": TX.q_trigram_logprob,
    "dedup_incremental_substring": D.q_dedup_incremental_substring,
    "perplexity_gate": TX.q_perplexity_gate,
    "decontaminate_near": D.q_decontaminate_near,
    "unigram_logprob": TX.q_unigram_logprob,
    "source_dup_stats": D.q_source_dup_stats,
    "bigram_freq": TX.q_bigram_freq,
    "seq_pack": TX.q_seq_pack,
    "dedup_fingerprint": D.q_dedup_fingerprint,
    "decontaminate": D.q_decontaminate,
    "dedup_windowed": D.q_dedup_windowed,
    "dedup_simhash": D.q_dedup_simhash,
    "embedding_neardup_exact": S.q_embedding_neardup_exact,
    "tpch_q1": TQ.q_tpch_q1,
    "tpch_q8": TQ.q_tpch_q8,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's own query (word count), sf0.001."""
    apply_runtime_confs(spark)
    return wordcount(spark, SMOKE_SF_DIR)


def queries() -> dict[str, QueryFn]:
    return {name: _wrap(fn) for name, fn in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: ORACLES[name] for name in _QUERIES if name in ORACLES}
