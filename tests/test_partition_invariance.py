"""Partition-count invariance: the repo's integer-sum discipline
claims results are independent of physical parallelism. Re-running a
representative query set under a different shuffle-partition count
must produce bit-identical rows — this is the property that makes
the same code safe from local[32] to a 1000-executor cluster."""

from __future__ import annotations

import pytest

from fxblue_etl_spark.operators.corpusops import (
    dsir_importance_stats,
    temperature_sweep,
    tokenizer_fertility,
    weighted_priority_sample,
)
from fxblue_etl_spark.operators.graph import (
    dedup_pagerank_exact,
    kcore_decomposition,
    split_decontaminate,
)
from fxblue_etl_spark.operators.dedup import minhash_lsh_containment
from fxblue_etl_spark.operators.ml import (
    kmeans_iterate_exact,
    prototype_prune,
    semdedup_prune,
)
from fxblue_etl_spark.operators.similarity import (
    brp_lsh_containment,
    ivf_upsert_equivalence,
    margin_bitext_mine,
    margin_bitext_mine_blocked,
    truncation_recall_report,
)
from fxblue_etl_spark.operators.ml import (
    embedding_gram_matrix,
    ivf_pq_adc_topk,
    semantic_topic_slice,
    triplet_margin_mining,
    embedding_moment_stats,
    ivf_multiprobe_topk,
    jl_sign_projection,
    label_cohesion_stats,
    pq_adc_topk,
)
from fxblue_etl_spark.operators.temporal import ohlc_bars_hourly
from fxblue_etl_spark.functions.udfs import pandas_grouped_agg_gini
from fxblue_etl_spark.operators.corpusops import capped_waterfill_allocation
from fxblue_etl_spark.operators.quality import (
    ngram_novelty_scores,
    quality_feature_matrix,
    span_dedup_rewrite,
)
from fxblue_etl_spark.operators.temporal import (
    calendar_arithmetic_semantics,
    seasonal_naive_backtest,
    tz_local_day_rollup,
)
from fxblue_etl_spark.plans.advanced import (
    argmax_order_per_customer,
    collated_group_counts,
    map_column_stats,
)
from fxblue_etl_spark.operators.cleaning import (
    aes_column_roundtrip,
    bool_concat_coercion,
    formatted_number_parse,
    regex_portability_semantics,
    unicode_case_semantics,
)
from fxblue_etl_spark.plans.advanced import (
    integer_division_semantics,
    window_frame_semantics,
    xml_roundtrip_extract,
)
from fxblue_etl_spark.plans.dq import incremental_agg_maintenance
from fxblue_etl_spark.plans.profiling import functional_dependency_audit
from fxblue_etl_spark.plans.relational import fx_ingest_end_to_end
from fxblue_etl_spark.plans.stats import ndv_catalog_sweep
from fxblue_etl_spark.plans.stats import decimal_money_totals
from fxblue_etl_spark.operators.tfidf import (
    bpe_merge_topk,
    cross_split_lm_eval,
    lm_doc_perplexity,
    perplexity_bucket_cutoffs,
    token_bigram_lm,
    token_frequency_spectrum,
    token_pmi_topk,
    token_weighted_median_quality,
)
from fxblue_etl_spark.operators.windows import sessionize_events, session_paths
from fxblue_etl_spark.plans.behavior import (
    basket_part_pairs,
    rfm_segmentation,
    rolling_active_users,
    type_correlation_stats,
)
from fxblue_etl_spark.plans.behavior import attribution_first_last
from fxblue_etl_spark.plans.profiling import (
    benford_first_digit,
    pareto_frontier_parts,
)
from fxblue_etl_spark.plans.stats import equidepth_histogram
from fxblue_etl_spark.operators.ml import split_centroid_drift
from fxblue_etl_spark.operators.retrieval import (
    bm25_rational_topk,
    boolean_retrieval_census,
    rrf_hybrid_fusion,
)
from fxblue_etl_spark.operators.skew import join_skew_report
from fxblue_etl_spark.plans.dq import incremental_join_maintenance
from fxblue_etl_spark.plans.observability import listagg_top_customers
from fxblue_etl_spark.plans.stats import chi2_contingency_cells
from fxblue_etl_spark.operators.ml import knn_graph_build
from fxblue_etl_spark.plans.profiling import (
    catalog_snapshot_manifest,
    join_cardinality_estimate,
)
from fxblue_etl_spark.plans.stats import bitmap_distinct_contract
from fxblue_etl_spark.operators.dedup import minhash_lsh_pairs
from fxblue_etl_spark.operators.similarity import (
    embedding_near_dup,
    semantic_contamination_report,
)
from fxblue_etl_spark.operators.graph import dedup_degree_hist, dedup_triangles
from fxblue_etl_spark.plans.behavior import event_cooccurrence
from fxblue_etl_spark.operators.temporal import daily_anomaly_days
from fxblue_etl_spark.plans.dq import dq_audit, gdpr_delete_propagation
from fxblue_etl_spark.plans.dq import source_length_drift
from fxblue_etl_spark.operators.tfidf import rare_token_quality, term_salience_topk
from fxblue_etl_spark.plans.profiling import approx_quantile_contract
from fxblue_etl_spark.operators.multimodal import media_ahash_neardup
from fxblue_etl_spark.plans.tpch_extra import q12_shipmode_priority
from fxblue_etl_spark.plans.stats import (
    portable_kmv_setops,
    encoding_advisor_stats,
    encoding_upsert_equivalence,
    percentile_cont_exact,
    portable_qdigest_quantiles,
    spearman_rank_corr,
)


@pytest.mark.parametrize(
    "query",
    [
        sessionize_events,
        ohlc_bars_hourly,
        label_cohesion_stats,
        type_correlation_stats,
        rfm_segmentation,
        basket_part_pairs,
        token_bigram_lm,
        session_paths,
        equidepth_histogram,
        # round-4 operators: the same invariance discipline
        dsir_importance_stats,
        lm_doc_perplexity,
        token_frequency_spectrum,
        embedding_moment_stats,
        ivf_multiprobe_topk,
        split_decontaminate,
        rolling_active_users,
        # round-4 in-round widening: same discipline
        embedding_gram_matrix,
        pq_adc_topk,
        perplexity_bucket_cutoffs,
        bpe_merge_topk,
        cross_split_lm_eval,
        tokenizer_fertility,
        weighted_priority_sample,
        temperature_sweep,
        benford_first_digit,
        pareto_frontier_parts,
        attribution_first_last,
        token_pmi_topk,
        jl_sign_projection,
        quality_feature_matrix,
        ngram_novelty_scores,
        capped_waterfill_allocation,
        token_weighted_median_quality,
        decimal_money_totals,
        tz_local_day_rollup,
        argmax_order_per_customer,
        map_column_stats,
        collated_group_counts,
        incremental_agg_maintenance,
        triplet_margin_mining,
        pandas_grouped_agg_gini,
        functional_dependency_audit,
        seasonal_naive_backtest,
        fx_ingest_end_to_end,
        ndv_catalog_sweep,
        semantic_topic_slice,
        xml_roundtrip_extract,
        formatted_number_parse,
        aes_column_roundtrip,
        integer_division_semantics,
        # fourth wave: same discipline
        bm25_rational_topk,
        rrf_hybrid_fusion,
        boolean_retrieval_census,
        chi2_contingency_cells,
        split_centroid_drift,
        join_skew_report,
        listagg_top_customers,
        incremental_join_maintenance,
        knn_graph_build,
        catalog_snapshot_manifest,
        join_cardinality_estimate,
        bitmap_distinct_contract,
        # round-5: exact-integer PageRank superstep
        dedup_pagerank_exact,
        # round-5 continuation: bucket-grouped pair generation and the
        # redundant-pass rewrites (collect_list order is partition-
        # dependent — these prove the derived RESULTS are not)
        minhash_lsh_pairs,
        embedding_near_dup,
        dedup_triangles,
        dedup_degree_hist,
        event_cooccurrence,
        daily_anomaly_days,
        gdpr_delete_propagation,
        dq_audit,
        source_length_drift,
        term_salience_topk,
        rare_token_quality,
        approx_quantile_contract,
        # round-6: hash-certified siblings — the integer Lloyd's sums
        # and the containment counts must not depend on parallelism
        kmeans_iterate_exact,
        minhash_lsh_containment,
        brp_lsh_containment,
        # round-7: SemDeDup ledger (integer distances + rounded cosine
        # verdicts) and the span-removal ledger (distinct position
        # counts) must not depend on parallelism
        semdedup_prune,
        span_dedup_rewrite,
        prototype_prune,
        # round-8: the IVF upsert contract's anti-join counts, the
        # truncation overlap ppms, and the integer-grid margin ranks
        # must not depend on parallelism
        ivf_upsert_equivalence,
        truncation_recall_report,
        margin_bitext_mine,
        margin_bitext_mine_blocked,
        bool_concat_coercion,
        calendar_arithmetic_semantics,
        portable_kmv_setops,
        portable_qdigest_quantiles,
        spearman_rank_corr,
        regex_portability_semantics,
        media_ahash_neardup,
        q12_shipmode_priority,
        window_frame_semantics,
        kcore_decomposition,
        percentile_cont_exact,
        ivf_pq_adc_topk,
        unicode_case_semantics,
        encoding_advisor_stats,
        encoding_upsert_equivalence,
        semantic_contamination_report,
    ],
    ids=lambda q: q.__name__,
)
def test_result_independent_of_shuffle_partitions(spark, sf_dir, query):
    from fxblue_etl_spark.io import drain_all

    drain_all(spark)  # a memoized spine would short-circuit the re-run
    base = sorted(map(tuple, query(spark, sf_dir).collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        drain_all(spark)
        odd = sorted(map(tuple, query(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == odd
