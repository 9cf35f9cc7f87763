"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator-inventory entries (SURVEY.md §2) to
callables ``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the
DuckDB-equivalent SQL. Determinism rules used throughout so value
hashes match bit-for-bit across engines:

- Sums over doubles go through per-row CAST to DECIMAL(18,2) (the data
  is 2-decimal money), exact decimal summation, then CAST AS DOUBLE —
  identical in Spark and DuckDB regardless of partial-sum order.
- l_quantity is integral → plain double sums are exact.
- AVG is expressed as exact-sum / count (double division of identical
  operands).
- Window/topk orderings always carry a unique tie-break key.
- Floating results that pass through transcendental/ratio math are
  rounded to 6 decimals on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view named like the file.

    Timestamp normalization: the testdata parquet stores naive µs
    timestamps (isAdjustedToUTC=false), which Spark 4 reads as
    TIMESTAMP_NTZ — a type unix_seconds()/withWatermark() reject.
    With the session timezone pinned to UTC, casting NTZ → TIMESTAMP
    is value-preserving and matches DuckDB's naive read of the same
    files, so every view exposes plain TimestampType. Older testdata
    revisions stored TIMESTAMP(NANOS); the nanosAsLong shim + µs
    conversion below keeps those readable too (SURVEY.md §1.2 maps
    HDK timestamp[ns] the same way)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # One shuffle partition per core the session actually has (the rule
    # hdk_spark.session already applies): on a vanilla session Spark's
    # 200 just adds per-task overhead at <=600k rows, and AQE coalescing
    # handles the rest. Every stateful stream started after this keeps
    # one state store per shuffle partition and commits each of them on
    # every micro-batch, so a fixed count above the cores is paid per
    # batch (on a 4-core VM, 32 stores took 7.5x the commit time of 4).
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    # ship the package to Python workers: pandas-UDF closures that
    # reference hdk_spark module helpers must unpickle under ANY
    # driver session/cwd, not just ones launched from the repo root
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            for field in df.schema.fields:
                if field.name == "ts" and isinstance(field.dataType, T.LongType):
                    # integer `div`, not `/`: float division of ~1e18 ns
                    # longs loses µs precision (double has 53 bits)
                    df = df.withColumn(
                        "ts", F.timestamp_micros(F.expr("ts div 1000"))
                    )
                elif isinstance(field.dataType, T.TimestampNTZType):
                    df = df.withColumn(
                        field.name, F.col(field.name).cast(T.TimestampType())
                    )
            df.createOrReplaceTempView(t)


def _sql(query: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir)
        return spark.sql(query)

    return run


# ---------------------------------------------------------------------------
# shared SQL fragments (identical text runs on Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

DEC = "CAST({c} AS DECIMAL(18,2))"
DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)
CHARGE = DISC_PRICE + " * (1 + CAST(l_tax AS DECIMAL(18,2)))"

# Queries where the exact same SQL text is valid and deterministic on
# both engines. Each entry: name -> SQL.
_COMMON_SQL: dict[str, str] = {
    # ---- §2.1 Aggregate + §2.5: TPC-H Q1 shape (scan→filter→agg→sort)
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity)                            AS sum_qty,
               CAST(SUM({DEC.format(c='l_extendedprice')}) AS DOUBLE) AS sum_base_price,
               CAST(SUM({DISC_PRICE}) AS DOUBLE)          AS sum_disc_price,
               CAST(SUM({CHARGE}) AS DOUBLE)              AS sum_charge,
               SUM(l_quantity) / COUNT(*)                 AS avg_qty,
               COUNT(*)                                   AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    # ---- §2.3 Filter conjunction + global agg (TPC-H Q6 shape)
    "q6_revenue_forecast": f"""
        SELECT CAST(SUM({DEC.format(c='l_extendedprice')} * {DEC.format(c='l_discount')}) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.04 AND 0.06
          AND l_quantity < 24
    """,
    # ---- §2.4 multi-join + group + order + limit (TPC-H Q3 shape)
    "q3_shipping_priority": f"""
        SELECT l_orderkey,
               CAST(SUM({DISC_PRICE}) AS DOUBLE) AS revenue,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    # ---- §2.4 five-way join through region (TPC-H Q5 shape)
    "q5_region_revenue": f"""
        SELECT n_name,
               CAST(SUM({DISC_PRICE}) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey   = o_custkey
        JOIN lineitem ON l_orderkey  = o_orderkey
        JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    # ---- §2.5 plain aggregates incl. COUNT DISTINCT / MIN / MAX
    "agg_basic_stats": """
        SELECT COUNT(*)                   AS n_rows,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(DISTINCT l_partkey)  AS n_parts,
               MIN(l_quantity)            AS min_qty,
               MAX(l_quantity)            AS max_qty,
               SUM(l_quantity)            AS sum_qty,
               MIN(l_shipdate)            AS first_ship,
               MAX(l_shipdate)            AS last_ship
        FROM lineitem
    """,
    # ---- §2.4 LEFT join with NULL probing
    "join_left_nulls": """
        SELECT o_orderpriority,
               COUNT(*)            AS n,
               COUNT(c_name)       AS n_matched,
               CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 9000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    # ---- §2.4 SEMI join (IN-subquery form: reference translateInSubquery)
    "join_semi_in_subquery": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 48)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    # ---- §2.4 ANTI join (NOT EXISTS)
    "join_anti_customers": """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    # ---- §2.3 scalar subquery (reference IR/Expr.h:415 ScalarSubquery)
    "scalar_subquery_above_avg": """
        SELECT COUNT(*) AS n_above
        FROM part
        WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
    """,
    # ---- §2.1 UNION ALL (reference IR/Node.h:849 LogicalUnion)
    "union_all_parties": """
        SELECT kind, COUNT(*) AS n, COUNT(DISTINCT nationkey) AS n_nations
        FROM (
            SELECT 'customer' AS kind, c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT 'supplier' AS kind, s_nationkey AS nationkey FROM supplier
        ) u
        GROUP BY kind
        ORDER BY kind
    """,
    # ---- §2.3 CASE WHEN + IN-list + arithmetic
    "case_in_bucketize": """
        SELECT CASE WHEN o_totalprice < 1000  THEN 'small'
                    WHEN o_totalprice < 10000 THEN 'medium'
                    ELSE 'large' END AS bucket,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN o_orderstatus IN ('F','P') THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
        FROM orders
        GROUP BY 1
        ORDER BY bucket
    """,
    # ---- §2.7 sort with NULLS placement + OFFSET/LIMIT
    "sort_nulls_offset": """
        SELECT c_custkey, nullable_bal
        FROM (
            SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS nullable_bal
            FROM customer
        ) t
        ORDER BY nullable_bal DESC NULLS FIRST, c_custkey
        LIMIT 50 OFFSET 10
    """,
    # ---- §2.6 ranking window functions (unique tie-break via orderkey)
    "window_rank_orders": """
        SELECT o_orderkey, o_orderpriority, rn, rnk, drnk
        FROM (
            SELECT o_orderkey, o_orderpriority,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
                   CAST(RANK()       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
                   CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS drnk
            FROM orders
        ) t
        WHERE rn <= 5
        ORDER BY o_orderpriority, rn
    """,
    # ---- §2.6 lag/lead + running aggregate over window
    "window_running_sum": """
        SELECT user_id, event_id,
               LAG(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event,
               LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS running_value
        FROM events
        WHERE user_id < 50
        ORDER BY user_id, event_id
    """,
    # ---- §2.8 date extract/trunc surface
    "date_extract_trunc": """
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)    AS yr,
               CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY 1, 2
        ORDER BY yr, qtr
    """,
    # ---- §2.8 string functions (reference surface: LOWER/LENGTH/SUBSTRING/||/LIKE)
    "string_funcs": """
        SELECT LOWER(p_brand) AS brand_lower,
               COUNT(*) AS n,
               CAST(MIN(LENGTH(p_name)) AS BIGINT) AS min_name_len,
               MAX(SUBSTRING(p_name, 1, 5)) AS max_prefix
        FROM part
        WHERE p_name LIKE '%gold%' OR p_type LIKE 'SMALL%'
        GROUP BY 1
        ORDER BY brand_lower
    """,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    load_tables(spark, "/root/testdata/sf0.001")
    return spark.sql(_COMMON_SQL["q1_pricing_summary"])


# Priority window: never-checked rows first, then the stale backlog
# oldest-first, so the driver's ~50-row window drains staleness
# instead of re-verifying fresh greens. The auto-generated
# "Regenerated by" line below is the source of truth for counts.
# Maintained by `python scripts/rotate_priority.py --write` (run it
# after the last contract-row commit of a round); the
# test_module_integrity priority guard fails if any queries() entry
# is missing from this list.
# Regenerated by scripts/rotate_priority.py — rotated against r14; failed last check: 0, never checked: 0, green: 298  (window ~50).
_PRIORITY: list[str] = [
    # sketch-core lead: the sketch rows whose code path moved onto
    # one keyed core per family (global, by-group and streaming forms)
    "stats_cms_frequency",
    "stats_cms_group_counts",
    "stats_dds_group_quantile",
    "stats_dds_merge",
    "stats_dds_quantile",
    "stats_heavy_hitters",
    "stats_kmv_group_merge",
    "stats_kmv_group_ndv",
    "stats_kmv_group_pairwise",
    "stats_kmv_jaccard",
    "stats_kmv_ndv",
    "stats_kmv_set_stats",
    "stats_mg_group_hh",
    "stats_mg_heavy_hitters",
    "stats_mg_merge",
    "streaming_cms_counts",
    "streaming_cms_group_counts",
    "streaming_dds_group_quantile",
    "streaming_dds_quantile",
    "streaming_frequent_items",
    "streaming_kmv_group_ndv",
    "streaming_kmv_ndv",
    "streaming_mg_group_tops",
    # r15 lead: rows whose operator code changed in r15, then
    # the r14-rewritten rows the r14 driver window never checked
    "crawl_pipeline",
    "crawl_pipeline_capped",
    "crawl_pipeline_stages",
    "training_export_pipeline",
    "html_extract",
    "dedup_minhash_lsh",
    "similarity_ann_lsh",
    "text_lang_id",
    "text_lang_id_trained",
    "streaming_incremental_dedup",
    "html_links",
    "dedup_ngram_jaccard",
    "web_robots_filter",
    "web_url_canonical_dedup",
    "web_domain_boilerplate",
    "text_gopher_flags",
    "text_c4_lines",
    "text_profile",
    "catalog_stats",
    "dedup_clusters_star",
    "graph_hits",
    "graph_trustrank",
    "similarity_bitext_mine",
    "similarity_contrastive_mine",
    "text_ccnet_buckets_kn3",
    "text_code_flags",
    "text_kneser_ney",
    "text_scorer_score",
    "text_scorer_train",
    "web_anchor_text",
    "web_domain_cap",
    "web_politeness_schedule",
    "web_url_features",
    "dedup_sketch_pr",
    "select_dsir_sample",
    "select_dsir_weights",
    # stale-first rotation (scripts/rotate_priority.py)
    "dedup_split_leakage",
    "denoise_fim_psm",
    "denoise_mlm_mask",
    "denoise_span_corruption",
    "graph_label_propagation",
    "multimodal_phash_dct",
    "pack_materialize_chunks",
    "pack_sequences_split",
    "profile_json_schema_gate",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "sample_repeat_expand",
    "search_retrieval_metrics",
    "select_curriculum_order",
    "select_temperature_budgets",
    "select_temperature_export",
    "select_temperature_mixture",
    "similarity_ivfpq_topk",
    "similarity_pq_encode",
    "similarity_pq_topk",
    "stats_auc_exact",
    "stats_calibration_curve",
    "stats_chi2_independence",
    "stats_k_anonymity",
    "stats_ks_test",
    "stats_ndv_sketch_rollup",
    "stats_pass_at_k",
    "temporal_scd2_history",
    "text_bleu_overlap",
    "text_blocklist_gate",
    "text_char_entropy",
    "text_dedup_doc_lines",
    "text_fold_homoglyphs",
    "text_zipf_fit",
    "tok_unigram_encode",
    "tok_wordpiece_encode",
    "agg_approx",
    "agg_topk_bottomk",
    "dedup_segments",
    "dedup_simhash",
    "embedding_correlation",
    "events_funnel",
    "groupby_all_year",
    "layout_zorder",
    "linkage_fuzzy_names",
    "multimodal_frames",
    "multimodal_phash",
    "pack_stats",
    "profile_drift",
    "profile_expectations",
    "profile_histogram",
    "profile_skew",
    "profile_snapshot_diff",
    "profile_summarize",
    "q6_revenue_forecast",
    "sample_mixture_plan",
    "sample_mixture_split",
    "sample_shuffle_shards",
    "sample_stratified",
    "sample_weighted",
    "search_bm25",
    "similarity_multiprobe_lsh",
    "similarity_sq8_topk",
    "stats_krippendorff_alpha",
    "streaming_distinct_users",
    "streaming_interval_join",
    "streaming_ndv_rollup",
    "streaming_sessionize",
    "streaming_sliding_agg",
    "streaming_stateful_counts",
    "streaming_static_join",
    "streaming_tumbling_agg",
    "temporal_asof_join",
    "temporal_range_join",
    "text_chunking",
    "text_distinctive_terms",
    "text_repetition",
    "text_rouge_overlap",
    "text_top_terms",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "agg_basic_stats",
    "agg_conditional_promo",
    "agg_decimal",
    "agg_empty_input",
    "agg_expr_group_keys",
    "agg_having",
    "cube_lineitem_status",
    "dedup_bloom_decontam",
    "dedup_duplicate_spans",
    "dedup_remove_spans",
    "distinct_projection",
    "similarity_ann_ivf",
    "similarity_sq8_ann",
    "stats_mad",
    "stats_mode",
    "stats_quantile_normalize",
    "stats_winsorize",
    "stats_zscore",
    "temporal_gaps",
    "temporal_resample_fill",
    "temporal_rolling_zscore",
    "temporal_rollup_grains",
    "text_bigram_cross",
    "text_bigram_logprob",
    "text_bigram_unk",
    "text_hashed_score",
    "text_lm_cross_score",
    "text_redact_pii",
    "text_source_kl",
    "text_unigram_logprob",
    "text_unigram_unk",
    "tpch_q11_important_stock",
    "tpch_q12_priority_classes",
    "tpch_q16_supplier_counts",
    "tpch_q2_min_cost_supplier",
    "web_domain_stats",
    "agg_moments",
    "agg_quantile_modes",
    "agg_sample_single_value",
    "array_item_cardinality",
    "array_unnest",
    "case_in_bucketize",
    "cast_matrix",
    "embedding_covariance",
    "events_tumbling_hour",
    "groupby_bool_empty_string",
    "groupby_null_keys",
    "grouping_sets_orders",
    "join_anti_customers",
    "join_exists",
    "join_semi_in_subquery",
    "join_theta_loop",
    "linkage_fuzzy_join",
    "rollup_lineitem_status",
    "scalar_subquery_above_avg",
    "sort_nulls_offset",
    "streaming_span_flags",
    "string_funcs",
    "string_funcs_extended",
    "subquery_correlated_min",
    "subquery_correlated_scalar",
    "temporal_rollup_merge",
    "text_ngram_repetition",
    "text_vocab_coverage",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q19_disjunctive_filter",
    "tpch_q22_idle_customers",
    "tpch_q4_order_priority",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_profit_by_nation",
    "union_all_nary",
    "array_construct",
    "bpe_encode_roundtrip",
    "chat_lint",
    "chat_preference_lint",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_window_decontam",
    "dedup_window_decontam_bloom",
    "dedup_window_decontam_remove",
    "expr_bitwise_div",
    "expr_math_funcs",
    "expr_null_safe_in",
    "expr_width_bucket_sample",
    "geo_distance",
    "join_left_nulls",
    "lateral_topn_per_group",
    "multimodal_decode",
    "multimodal_progressive",
    "pivot_event_types",
    "profile_dataset_report",
    "set_except_customers",
    "set_intersect_customers",
    "set_union_distinct",
    "similarity_cosine_topk",
    "streaming_dedup_counts",
    "string_like_regex",
    "text_ccnet_buckets",
    "union_all_parties",
    "unpivot_measures",
    "values_literal",
    "warc_parse",
    "window_analytics",
    "window_explicit_frames",
    "window_rank_orders",
    "window_running_sum",
    "bpe_train_merges",
    "chat_loss_mask",
    "chat_sft_export",
    "date_add_diff",
    "date_current_bounds",
    "date_extract_fields",
    "date_extract_trunc",
    "date_interval_arith",
    "date_trunc_epochs",
    "date_trunc_exotic",
    "dedup_clusters",
    "dedup_contamination",
    "dedup_keep_best",
    "dedup_pipeline",
    "dedup_semantic",
    "embedding_kmeans",
    "events_json_props",
    "events_sessionize",
    "graph_pagerank",
    "join_cross_small",
    "join_full_outer",
    "layout_compaction",
    "multimodal_exif",
    "multimodal_image_info",
    "multimodal_media_info",
    "pack_sequences",
    "sample_export_pipeline",
    "sample_shard_manifest",
    "sample_token_budget",
    "search_bm25_batch",
    "search_rrf_fusion",
    "stats_agreement",
    "stats_fleiss",
    "stats_label_merge",
    "streaming_crawl_ingest",
    "temporal_retention",
    "text_ccnet_buckets_lm3",
    "text_fix_encoding",
    "text_lang_id_train",
    "text_trigram_cross",
    "text_trigram_logprob",
    "web_crawl_frontier",
    "web_link_graph",
    "web_robots_directives",
    "web_url_seen_bloom",
]





def _reorder(registry: dict[str, object]) -> dict[str, object]:
    head = {n: registry[n] for n in _PRIORITY if n in registry}
    head.update({n: v for n, v in registry.items() if n not in head})
    return head


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from hdk_spark.entry_queries import COMMON_SQL_EXTRA, SPARK_IMPLS

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, sql in {**_COMMON_SQL, **COMMON_SQL_EXTRA}.items():
        out[name] = _sql(sql)
    out.update(SPARK_IMPLS)
    return _reorder(out)


def oracle_sql() -> dict[str, str]:
    from hdk_spark.entry_queries import COMMON_SQL_EXTRA, ORACLES

    return _reorder({**_COMMON_SQL, **COMMON_SQL_EXTRA, **ORACLES})
