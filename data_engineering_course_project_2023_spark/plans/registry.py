"""Query registry: name → (spark builder, DuckDB oracle SQL).

``__spark_entry__.queries()`` / ``oracle_sql()`` are generated from this
table. Conventions that keep the driver's exact hash-compare green:

- every computed column aliased identically in Spark and SQL;
- money sums via DECIMAL(18,2) casts on both sides (exact, order-free);
- int-typed outputs cast explicitly where DuckDB widens (year→INTEGER,
  SUM(int)→BIGINT);
- top-k queries carry a deterministic tiebreak key.

Queries whose semantics aren't SQL-expressible register oracle=None and
get the driver's rows-only check.

Order: the registry is its declaration order. The driver checks only the
first 50 entries, so ``star_revenue_by_region_year`` (the query
``__spark_entry__.entry`` runs) is declared first and the rows-only
queries are declared last, after every oracled one
(``tests/test_oracle_parity.py::test_registry_order_rule``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import load_tables
from . import analytics, approx, arxiv_clean, classic, eventstream, ivf_fixture, llmops, pq_fixture, relational

Builder = Callable[[dict[str, DataFrame]], DataFrame]


@dataclass(frozen=True)
class Query:
    """One registered query: builder over the loaded tables + oracle."""

    builder: Builder
    oracle: str | None
    tables: tuple[str, ...]  # tables to load (scan only what's needed)
    doc: str = ""


REGISTRY: dict[str, Query] = {
    "star_revenue_by_region_year": Query(
        analytics.star_revenue_by_region_year,
        analytics.STAR_REVENUE_SQL,
        ("lineitem", "orders", "customer", "nation", "region"),
        "J8 star join + agg (flagship)",
    ),
    "copair_counts": Query(
        analytics.copair_counts,
        analytics.COPAIR_SQL,
        ("lineitem",),
        "J4/A1 canonical pair counts from the pair kernel (collaboration graph)",
    ),
    "copair_counts_salted": Query(
        analytics.copair_counts_salted,
        analytics.COPAIR_SQL,  # identical semantics — same oracle
        ("lineitem",),
        "J4 skew-hardened two-stage (salted) pair counts",
    ),
    "top_parts_by_revenue": Query(
        analytics.top_parts_by_revenue,
        analytics.TOP_PARTS_SQL,
        ("lineitem",),
        "A2 top-k most-referenced",
    ),
    "orders_per_year": Query(
        analytics.orders_per_year,
        analytics.ORDERS_PER_YEAR_SQL,
        ("orders",),
        "A3 trend over time",
    ),
    "prolific_customers": Query(
        analytics.prolific_customers,
        analytics.PROLIFIC_SQL,
        ("orders",),
        "A4 most prolific",
    ),
    "segment_top_customers": Query(
        analytics.segment_top_customers,
        analytics.SEGMENT_TOP_SQL,
        ("orders", "customer"),
        "A5 specialization window (row_number per group)",
    ),
    "popular_segments": Query(
        analytics.popular_segments,
        analytics.POPULAR_SEGMENTS_SQL,
        ("customer",),
        "A6 popularity count",
    ),
    "year_priority_cube": Query(
        analytics.year_priority_cube,
        analytics.YEAR_PRIORITY_CUBE_SQL,
        ("orders",),
        "A7 evolution matrix via CUBE",
    ),
    "customer_spend_percentile": Query(
        analytics.customer_spend_percentile,
        analytics.SPEND_PCTILE_SQL,
        ("orders",),
        "A8 impact percentile (percent_rank)",
    ),
    "nation_trade_pairs": Query(
        analytics.nation_trade_pairs,
        analytics.NATION_TRADE_SQL,
        ("lineitem", "orders", "customer", "supplier", "nation"),
        "A9 institutional collaboration (Q7 shape)",
    ),
    "pricing_summary": Query(
        analytics.pricing_summary,
        analytics.PRICING_SUMMARY_SQL,
        ("lineitem",),
        "Q1-shaped wide aggregation",
    ),
    "rollup_year_status": Query(
        analytics.rollup_year_status,
        analytics.ROLLUP_YEAR_STATUS_SQL,
        ("orders",),
        "A7 companion: ROLLUP hierarchy margins",
    ),
    "shipping_priority": Query(
        analytics.shipping_priority,
        analytics.SHIPPING_PRIORITY_SQL,
        ("lineitem", "orders", "customer"),
        "Q3 shape: selective join + computed top-k",
    ),
    "order_priority_check": Query(
        analytics.order_priority_check,
        analytics.ORDER_PRIORITY_SQL,
        ("orders", "lineitem"),
        "Q4 shape: EXISTS via left_semi + date-range pushdown",
    ),
    "large_volume_customers": Query(
        analytics.large_volume_customers,
        analytics.LARGE_VOLUME_SQL,
        ("lineitem", "orders", "customer"),
        "Q18 shape: grouped HAVING feeding dim joins",
    ),
    "small_quantity_revenue": Query(
        analytics.small_quantity_revenue,
        analytics.SMALL_QUANTITY_SQL,
        ("lineitem",),
        "Q17 shape: decorrelated scalar subquery (agg + broadcast join)",
    ),
    "nation_set_ops": Query(
        analytics.nation_set_ops,
        analytics.NATION_SET_OPS_SQL,
        ("customer", "supplier"),
        "INTERSECT / EXCEPT set operations",
    ),
    "sql_revenue_by_status": Query(
        analytics.sql_revenue_by_status,
        analytics.SQL_REVENUE_BY_STATUS_SQL,
        ("orders", "lineitem"),
        "SQL front door: temp views + spark.sql (same Catalyst plan)",
    ),
    "pivot_year_priority": Query(
        analytics.pivot_year_priority,
        analytics.PIVOT_YEAR_PRIORITY_SQL,
        ("orders",),
        "A7 wide spelling: fixed-value pivot",
    ),
    "late_sole_suppliers": Query(
        analytics.late_sole_suppliers,
        analytics.LATE_SOLE_SUPPLIERS_SQL,
        ("lineitem", "orders", "supplier"),
        "Q21 shape: EXISTS + NOT-EXISTS anti-join chain",
    ),
    "idle_rich_customers": Query(
        analytics.idle_rich_customers,
        analytics.IDLE_RICH_SQL,
        ("customer", "orders"),
        "Q22 shape: global scalar subquery + anti-join",
    ),
    "cheapest_supplier_per_nation": Query(
        analytics.cheapest_supplier_per_nation,
        analytics.CHEAPEST_SUPPLIER_SQL,
        ("supplier", "nation"),
        "Q2 shape: correlated MIN subquery join-back",
    ),
    "nation_revenue_share": Query(
        analytics.nation_revenue_share,
        analytics.NATION_REVENUE_SHARE_SQL,
        ("lineitem", "supplier", "nation"),
        "Q11 shape: HAVING vs global scalar aggregate",
    ),
    "order_count_distribution": Query(
        analytics.order_count_distribution,
        analytics.ORDER_COUNT_DIST_SQL,
        ("customer", "orders"),
        "Q13 shape: left-outer count distribution",
    ),
    # --- scan / projection / nested / join families (SURVEY §2.1-2.4) ---
    "scan_offset_limit": Query(
        relational.scan_offset_limit,
        relational.SCAN_OFFSET_LIMIT_SQL,
        ("orders",),
        "S2 row-range subset",
    ),
    "null_drop_any": Query(
        relational.null_drop_any,
        relational.NULL_DROP_SQL,
        ("customer",),
        "S4 dropna(how=all)",
    ),
    "split_names": Query(
        relational.split_names,
        relational.SPLIT_NAMES_SQL,
        ("part",),
        "P4 string split → array-of-struct",
    ),
    "remap_tokens": Query(
        relational.remap_tokens,
        relational.REMAP_TOKENS_SQL,
        ("part",),
        "P5+P6 token dedup/sort + dictionary remap",
    ),
    "date_reformat": Query(
        relational.date_reformat,
        relational.DATE_REFORMAT_SQL,
        ("events",),
        "P7 ISO reformat, keep-original-on-failure",
    ),
    "normalize_text": Query(
        relational.normalize_text,
        relational.NORMALIZE_TEXT_SQL,
        ("documents",),
        "P8 whitespace normalization",
    ),
    "null_defaulting": Query(
        relational.null_defaulting,
        relational.NULL_DEFAULTING_SQL,
        ("customer",),
        "P9 null → 'Unknown'",
    ),
    "conditional_id": Query(
        relational.conditional_id,
        relational.CONDITIONAL_ID_SQL,
        ("orders",),
        "P12 conditional id formatting",
    ),
    "table_counts": Query(
        relational.table_counts,
        relational.TABLE_COUNTS_SQL,
        ("lineitem",),
        "P14 counts + X5 exact distinct",
    ),
    "table_manifest": Query(
        relational.table_manifest,
        relational.TABLE_MANIFEST_SQL,
        tuple(tb for tb, _ in relational._MANIFEST_KEYS),
        "P14+ order-free key-set fingerprint per table (snapshot manifest)",
    ),
    "explode_tokens": Query(
        relational.explode_tokens,
        relational.EXPLODE_TOKENS_SQL,
        ("documents",),
        "N1-N4 explode arrays",
    ),
    "distinct_entities": Query(
        relational.distinct_entities,
        relational.DISTINCT_ENTITIES_SQL,
        ("documents",),
        "N5 entity dedup + P2 md5 surrogate keys",
    ),
    "collect_renest": Query(
        relational.collect_renest,
        relational.COLLECT_RENEST_SQL,
        ("lineitem",),
        "N6 collect_list re-nesting",
    ),
    "enrichment_join": Query(
        relational.enrichment_join,
        relational.ENRICHMENT_JOIN_SQL,
        ("lineitem", "part"),
        "J5 broadcast enrichment lookup join",
    ),
    "fallback_join": Query(
        relational.fallback_join,
        relational.FALLBACK_JOIN_SQL,
        ("orders", "customer"),
        "J6 primary/fallback key lookup + J9 drop-miss",
    ),
    "semi_anti_customers": Query(
        relational.semi_anti_customers,
        relational.SEMI_ANTI_SQL,
        ("customer", "orders"),
        "J9 left_semi / left_anti",
    ),
    "running_order_totals": Query(
        relational.running_order_totals,
        relational.RUNNING_TOTALS_SQL,
        ("orders",),
        "window frames: running sum + lag",
    ),
    "customer_order_features": Query(
        analytics.customer_order_features,
        analytics.CUSTOMER_FEATURES_SQL,
        ("orders",),
        "window features: first_value / lead / ntile",
    ),
    "copair_components": Query(
        analytics.copair_components,
        analytics.COPAIR_COMPONENTS_SQL,
        ("lineitem",),
        "iterative connected components (min-label propagation) vs recursive-CTE oracle",
    ),
    # --- event/stream batch twin (SURVEY §2.6 S13) ---
    "daily_event_counts": Query(
        eventstream.daily_event_counts,
        eventstream.DAILY_EVENT_COUNTS_SQL,
        ("events",),
        "S13 daily tumbling window (streaming batch twin)",
    ),
    "hourly_user_activity": Query(
        eventstream.hourly_user_activity,
        eventstream.HOURLY_USER_SQL,
        ("events",),
        "hourly window + exact distinct users",
    ),
    "sessionize": Query(
        eventstream.sessionize,
        eventstream.SESSIONIZE_SQL,
        ("events",),
        "sessionization via gap detection (stateful-op batch twin)",
    ),
    "session_window_counts": Query(
        eventstream.session_window_counts,
        eventstream.SESSION_WINDOW_SQL,
        ("events",),
        "native session_window (stateful session op, batch form)",
    ),
    "asof_purchase_click": Query(
        eventstream.asof_purchase_click,
        eventstream.ASOF_SQL,
        ("events",),
        "custom op: as-of join (window spelling, no explosion)",
    ),
    "range_join_events": Query(
        eventstream.range_join_events,
        eventstream.RANGE_JOIN_SQL,
        ("events",),
        "custom op: bucketized range join (3-bin probe equi-join)",
    ),
    "json_props_stats": Query(
        eventstream.json_props_stats,
        eventstream.JSON_PROPS_SQL,
        ("events",),
        "semi-structured JSON extraction",
    ),
    "value_quantiles": Query(
        eventstream.value_quantiles,
        eventstream.VALUE_QUANTILES_SQL,
        ("events",),
        "X5 exact quantiles",
    ),
    # --- LLM training-data ops (SURVEY §2.8) ---
    "text_quality": Query(
        llmops.text_quality,
        llmops.TEXT_QUALITY_SQL,
        ("documents",),
        "X4 token counts / quality scoring / fingerprints",
    ),
    "lang_id": Query(
        llmops.lang_id,
        llmops.LANG_ID_SQL,
        ("documents",),
        "X4b marker-based language ID",
    ),
    "exact_dedup": Query(
        llmops.exact_dedup,
        llmops.EXACT_DEDUP_SQL,
        ("documents",),
        "X1 exact dedup (keep-first groups)",
    ),
    "dedup_keep_first": Query(
        llmops.dedup_keep_first,
        llmops.DEDUP_KEEP_FIRST_SQL,
        ("documents",),
        "X1b keep-first dedup as a row filter (window over content hash)",
    ),
    "curate_documents": Query(
        llmops.curate_documents,
        llmops.CURATE_SQL,
        ("documents",),
        "composed curation chain: quality gates -> dedup -> lang stats",
    ),
    "dq_documents": Query(
        llmops.dq_documents,
        llmops.DQ_DOCUMENTS_SQL,
        ("documents",),
        "declarative data-quality gates, all rules in one scan",
    ),
    "pack_documents": Query(
        llmops.pack_documents,
        llmops.PACK_DOCUMENTS_SQL,
        ("documents",),
        "token-budget sequence packing (bucketed cumsum window)",
    ),
    "heavy_hitter_tokens": Query(
        llmops.heavy_hitter_tokens,
        llmops.HEAVY_HITTER_SQL,
        ("documents",),
        "exact heavy-hitter tokens vs global scalar threshold",
    ),
    "decontaminate_docs": Query(
        llmops.decontaminate_docs,
        llmops.DECONTAMINATE_SQL,
        ("documents",),
        "benchmark decontamination: 8-gram leak vs broadcast eval set",
    ),
    "mixture_resample_docs": Query(
        llmops.mixture_resample_docs,
        llmops.MIXTURE_RESAMPLE_SQL,
        ("documents",),
        "training-mixture resampling: deterministic epoch weighting",
    ),
    "hash_sample_orders": Query(
        llmops.hash_sample_orders,
        llmops.HASH_SAMPLE_SQL,
        ("orders",),
        "deterministic hash-mod sampling (reproducible across re-runs)",
    ),
    "train_test_split": Query(
        llmops.train_test_split,
        llmops.TRAIN_TEST_SPLIT_SQL,
        ("documents",),
        "deterministic 80/10/10 split assignment by content-key hash",
    ),
    "ngram_jaccard": Query(
        llmops.ngram_jaccard,
        llmops.NGRAM_JACCARD_SQL,
        ("documents",),
        "X2a n-gram Jaccard similarity join",
    ),
    "minhash_sigs": Query(
        llmops.minhash_sigs,
        llmops.MINHASH_SIGS_SQL,
        ("documents",),
        "X2b MinHash signatures (md5-permutations)",
    ),
    "minhash_pairs": Query(
        llmops.minhash_pairs,
        llmops.MINHASH_PAIRS_SQL,
        ("documents",),
        "X2b MinHash LSH banded candidate pairs",
    ),
    "simhash_buckets": Query(
        llmops.simhash_buckets,
        llmops.SIMHASH_SQL,
        ("documents",),
        "X2c SimHash + hamming-0 buckets",
    ),
    "cosine_topk": Query(
        llmops.cosine_topk,
        llmops.COSINE_TOPK_SQL,
        ("embeddings",),
        "X3 brute-force cosine top-k",
    ),
    "ann_lsh_topk": Query(
        llmops.ann_lsh_topk,
        llmops.ANN_LSH_SQL,
        ("embeddings",),
        "X3 LSH-bucketed approximate top-k",
    ),
    "ivf_topk": Query(
        llmops.ivf_topk_query,
        ivf_fixture.ivf_topk_sql(),
        ("embeddings",),
        "X3c IVF (deterministic k-means) probe search — oracled via "
        "pinned centroids (plans/ivf_fixture.py)",
    ),
    "ivfpq_topk": Query(
        llmops.ivfpq_topk_query,
        ivf_fixture.ivfpq_topk_oracle_sql(),
        ("embeddings",),
        "X3g IVFADC (coarse quantize + residual PQ + ADC + rerank) — "
        "oracled via both pinned codebooks (plans/ivf_fixture.py)",
    ),    # --- multimodal plumbing through mapInPandas, oracle-checked ---
    "multimodal_features": Query(
        llmops.multimodal_features,
        llmops.MULTIMODAL_SQL,
        ("documents",),
        "binary media columns + mapInPandas feature extraction",
    ),
    "embedding_neardup": Query(
        llmops.embedding_neardup,
        llmops.EMBEDDING_NEARDUP_SQL,
        ("embeddings",),
        "X2d embedding-cosine near-dup (label-blocked exact pairs)",
    ),
    "chunk_dedup_spans": Query(
        llmops.chunk_dedup_spans,
        llmops.CHUNK_DEDUP_SQL,
        ("documents",),
        "X2e chunk-granular exact-substring dedup (32-token spans)",
    ),
    "embedding_quantize": Query(
        llmops.embedding_quantize,
        llmops.EMBEDDING_QUANTIZE_SQL,
        ("embeddings",),
        "X3d int8 scalar quantization (per-dim min/max codes)",
    ),
    "conversion_funnel": Query(
        eventstream.conversion_funnel,
        eventstream.CONVERSION_FUNNEL_SQL,
        ("events",),
        "strict-order view→click→purchase funnel with conversion rates",
    ),
    "doc_fingerprints": Query(
        llmops.doc_fingerprints,
        llmops.DOC_FINGERPRINTS_SQL,
        ("documents",),
        "X4c order-sensitive rolling-hash fingerprint + shard key",
    ),
    "doc_repetition": Query(
        llmops.doc_repetition,
        llmops.DOC_REPETITION_SQL,
        ("documents",),
        "X4d dup-trigram repetition quality signal",
    ),
    # --- remaining classic decision-support shapes (plans/classic.py) ---
    "discount_forecast": Query(
        classic.discount_forecast,
        classic.DISCOUNT_FORECAST_SQL,
        ("lineitem",),
        "Q6 selective single-pass forecast (full predicate pushdown)",
    ),
    "market_share": Query(
        classic.market_share,
        classic.MARKET_SHARE_SQL,
        ("lineitem", "orders", "customer", "supplier", "nation", "region"),
        "Q8 conditional-share aggregation per year",
    ),
    "nation_profit": Query(
        classic.nation_profit,
        classic.NATION_PROFIT_SQL,
        ("lineitem", "part", "supplier", "nation"),
        "Q9 product-line profit by nation × ship year",
    ),
    "returned_item_losses": Query(
        classic.returned_item_losses,
        classic.RETURNED_ITEM_SQL,
        ("lineitem", "orders", "customer", "nation"),
        "Q10 top-20 returned-revenue customers with dimension context",
    ),
    "promo_revenue_pct": Query(
        classic.promo_revenue_pct,
        classic.PROMO_REVENUE_SQL,
        ("lineitem", "part"),
        "Q14 promo revenue share",
    ),
    "top_quarter_supplier": Query(
        classic.top_quarter_supplier,
        classic.TOP_QUARTER_SUPPLIER_SQL,
        ("lineitem", "supplier"),
        "Q15 scalar-max join-back (top supplier)",
    ),
    "part_supplier_breadth": Query(
        classic.part_supplier_breadth,
        classic.PART_SUPPLIER_BREADTH_SQL,
        ("lineitem", "part"),
        "Q16 distinct-supplier breadth per part descriptor",
    ),
    "brand_bulk_revenue": Query(
        classic.brand_bulk_revenue,
        classic.BRAND_BULK_SQL,
        ("lineitem", "part"),
        "Q19 disjunctive predicate revenue",
    ),
    "bulk_red_suppliers": Query(
        classic.bulk_red_suppliers,
        classic.BULK_RED_SUPPLIERS_SQL,
        ("lineitem", "part", "supplier", "nation"),
        "Q20 nested semi-join qualification",
    ),
    # --- round-2 additions: paragraph granularity + exact-substring ---
    "paragraph_dedup": Query(
        llmops.paragraph_dedup,
        llmops.PARAGRAPH_DEDUP_SQL,
        ("documents",),
        "X2f cross-doc duplicated paragraphs (natural-boundary chunk dedup)",
    ),
    "paragraph_profile": Query(
        llmops.paragraph_profile,
        llmops.PARAGRAPH_PROFILE_SQL,
        ("documents",),
        "X4e per-doc paragraph counts + dup-paragraph ratio",
    ),
    "decontaminate_exact": Query(
        llmops.decontaminate_exact_substring,
        llmops.DECONTAMINATE_EXACT_SQL,
        ("documents",),
        "exact-substring decontamination (aligned-chunk vs stride-1 eval windows)",
    ),
    "pq_codes": Query(
        llmops.pq_codes_query,
        llmops.PQ_CODES_SQL,
        ("embeddings",),
        "X3e product-quantization codes (64 floats → 8 nibbles; pinned codebook oracle)",
    ),
    "pq_topk": Query(
        llmops.pq_topk_query,
        pq_fixture.pq_topk_oracle_sql(),
        ("embeddings",),
        "X3e ADC search over PQ codes + exact rerank — oracled via the "
        "pinned codebook (plans/pq_fixture.py)",
    ),
    "neardup_clusters": Query(
        llmops.neardup_clusters_query,
        llmops.NEARDUP_CLUSTERS_SQL,
        ("documents",),
        "X2 cluster resolution: LSH band pairs → connected components → canonical rep",
    ),
    "tfidf_top_terms": Query(
        llmops.tfidf_top_terms,
        llmops.TFIDF_SQL,
        ("documents",),
        "X4 per-doc top-3 TF-IDF terms (keyword extraction)",
    ),
    "knn_graph": Query(
        llmops.knn_graph_query,
        llmops.KNN_GRAPH_SQL,
        ("embeddings",),
        "X3 blocked 3-NN graph over embeddings",
    ),
    "semdedup_keep": Query(
        llmops.semdedup_keep_query,
        llmops.SEMDEDUP_SQL,
        ("embeddings",),
        "X2 SemDeDup-style keep-filter (drop ≥0.40 cosine to lower-id same-block)",
    ),
    "chunk_for_rag": Query(
        llmops.chunk_for_rag,
        llmops.CHUNK_FOR_RAG_SQL,
        ("documents",),
        "X4 overlapping token-window chunking (RAG indexing; zero-shuffle)",
    ),
    "gopher_quality": Query(
        llmops.gopher_quality,
        llmops.GOPHER_QUALITY_SQL,
        ("documents",),
        "X4 Gopher-style rule-based quality filter (map-side only)",
    ),
    "attribution_join": Query(
        eventstream.attribution_join,
        eventstream.ATTRIBUTION_SQL,
        ("events",),
        "§2.6 click→purchase attribution (batch twin of the stream-stream join)",
    ),
    "vocab_encode": Query(
        llmops.vocab_encode,
        llmops.VOCAB_ENCODE_SQL,
        ("documents",),
        "X4 vocab fit (top-V by freq) + token-id encoding (0 = OOV)",
    ),
    "quality_top_half": Query(
        llmops.quality_top_half,
        llmops.QUALITY_TOP_HALF_SQL,
        ("documents",),
        "X4 per-language top-half quality percentile filter",
    ),
    "pagerank_trade": Query(
        analytics.pagerank_trade,
        analytics.PAGERANK_SQL,
        ("lineitem", "orders"),
        "A10 fixed-point PageRank over the customer→supplier graph (exact-checked iteration)",
    ),
    "ppr_trade": Query(
        analytics.ppr_trade,
        analytics.PPR_SQL,
        ("lineitem", "orders", "customer"),
        "A10b personalized PageRank from a nation-seeded restart set",
    ),
    "triangle_counts": Query(
        analytics.triangle_counts,
        analytics.TRIANGLE_SQL,
        ("lineitem",),
        "A11 per-node triangle participation in the co-order graph",
    ),
    # --- reference-parity cleaning suite on a shared literal fixture ---
    "arxiv_clean_silver": Query(
        arxiv_clean.arxiv_clean_query,
        arxiv_clean.ARXIV_CLEAN_SQL,
        ("region",),  # only to obtain the session; fixture is inline
        "silver-1 cleaning suite (P1-P9 exact reference semantics)",
    ),
    # --- round-2 batch 2: time-series / sampling / robust stats ---
    "daily_gapfill": Query(
        eventstream.daily_gapfill,
        eventstream.DAILY_GAPFILL_SQL,
        ("events",),
        "time-series densification: calendar gap-fill + forward-filled daily value",
    ),
    "stratified_sample": Query(
        eventstream.stratified_sample,
        eventstream.STRATIFIED_SAMPLE_SQL,
        ("events",),
        "deterministic per-stratum hash sampling (sampleBy without RNG)",
    ),
    "value_outliers_mad": Query(
        eventstream.value_outliers_mad,
        eventstream.VALUE_OUTLIERS_SQL,
        ("events",),
        "robust outliers: discrete median/MAD + 3-MAD exceedance counts",
    ),
    "token_pmi": Query(
        llmops.token_pmi,
        llmops.TOKEN_PMI_SQL,
        ("documents",),
        "X4h bigram collocation PMI (map-side bigrams, broadcast unigram attach)",
    ),
    "label_centroids": Query(
        llmops.label_centroids,
        llmops.LABEL_CENTROIDS_SQL,
        ("embeddings",),
        "X3h per-label centroid pooling via exact micro-unit sums",
    ),
    "incremental_agg_merge": Query(
        analytics.incremental_agg_merge,
        analytics.INCREMENTAL_AGG_SQL,
        ("orders",),
        "materialized-agg maintenance: mergeable decimal partials == full recompute",
    ),
    "zorder_keys": Query(
        analytics.zorder_keys,
        analytics.ZORDER_KEYS_SQL,
        ("lineitem",),
        "Z-order (Morton) clustering keys + per-bucket skipping stats",
    ),
    # --- round-2 batch 3: product analytics / stats / fuzzy matching ---
    "cohort_retention": Query(
        eventstream.cohort_retention,
        eventstream.COHORT_RETENTION_SQL,
        ("events",),
        "weekly cohort retention triangle with exact int/int retention ratio",
    ),
    "event_transitions": Query(
        eventstream.event_transitions,
        eventstream.EVENT_TRANSITIONS_SQL,
        ("events",),
        "first-order Markov transition matrix over per-user event sequences",
    ),
    "user_event_sequences": Query(
        eventstream.user_event_sequences,
        eventstream.USER_SEQUENCES_SQL,
        ("events",),
        "per-user truncated chronological event sequences (seq-model input)",
    ),
    "recency_engagement": Query(
        eventstream.recency_engagement,
        eventstream.RECENCY_ENGAGEMENT_SQL,
        ("events",),
        "TS recency-decayed engagement score (exact power-of-two decay)",
    ),
    "event_type_lift": Query(
        eventstream.event_type_lift,
        eventstream.EVENT_TYPE_LIFT_SQL,
        ("events",),
        "TS association rules (support/confidence/lift) over user baskets",
    ),
    "skipgram_pairs": Query(
        llmops.skipgram_pairs,
        llmops.SKIPGRAM_PAIRS_SQL,
        ("documents",),
        "X4 windowed skip-gram training pairs (embedding-data generator)",
    ),
    "negative_sampling_table": Query(
        llmops.negative_sampling_table,
        llmops.NEG_SAMPLING_SQL,
        ("documents",),
        "X4 word2vec negative-sampling table (freq^0.75, cumulative ranges)",
    ),
    "split_assignment_audit": Query(
        llmops.split_assignment_audit,
        llmops.SPLIT_AUDIT_SQL,
        ("documents",),
        "X4 hash-assigned train/val/test split audit per source",
    ),
    "rolling_avg_value": Query(
        eventstream.rolling_avg_value,
        eventstream.ROLLING_AVG_SQL,
        ("events",),
        "calendar-aware trailing 7-day rolling mean (RANGE frame, exact cents)",
    ),
    "daily_anomaly_flags": Query(
        eventstream.daily_anomaly_flags,
        eventstream.DAILY_ANOMALY_SQL,
        ("events",),
        "trailing-28d 3-sigma volume anomaly flags (exact-integer z-test)",
    ),
    "incremental_daily_merge": Query(
        eventstream.incremental_daily_merge,
        eventstream.INCREMENTAL_DAILY_MERGE_SQL,
        ("events",),
        "history+delta merged rollup; oracle recomputes direct (merge==direct)",
    ),
    "regr_value_trend": Query(
        eventstream.regr_value_trend,
        eventstream.REGR_TREND_SQL,
        ("events",),
        "closed-form least-squares daily trend from exact integer moment sums",
    ),
    "corr_quantity_discount": Query(
        analytics.corr_quantity_discount,
        analytics.CORR_QTY_DISCOUNT_SQL,
        ("lineitem",),
        "exact-integer Pearson correlation per returnflag",
    ),
    "fuzzy_part_pairs": Query(
        analytics.fuzzy_part_pairs,
        analytics.FUZZY_PART_PAIRS_SQL,
        ("part",),
        "blocked Levenshtein candidate pairs (entity-resolution shape)",
    ),
    "value_histogram": Query(
        eventstream.value_histogram,
        eventstream.VALUE_HISTOGRAM_SQL,
        ("events",),
        "fixed-width floor-bucketed value histogram per event type",
    ),
    "first_digit_profile": Query(
        analytics.first_digit_profile,
        analytics.FIRST_DIGIT_SQL,
        ("lineitem",),
        "Benford first-digit audit from exact integer cents",
    ),
    "referential_audit": Query(
        relational.referential_audit,
        relational.REFERENTIAL_AUDIT_SQL,
        ("lineitem", "orders", "customer", "supplier", "part", "nation"),
        "FK orphan audit across the star schema (left-join conditional counts)",
    ),
    "trade_hops": Query(
        analytics.trade_hops,
        analytics.TRADE_HOPS_SQL,
        ("lineitem", "orders"),
        "4-level BFS min-hop distances vs a recursive-CTE oracle",
    ),
    "grouping_sets_revenue": Query(
        analytics.grouping_sets_revenue,
        analytics.GROUPING_SETS_SQL,
        ("orders",),
        "explicit GROUPING SETS with GROUPING() flag disambiguation",
    ),
    "customer_ltv_deciles": Query(
        analytics.customer_ltv_deciles,
        analytics.CUSTOMER_LTV_DECILES_SQL,
        ("orders",),
        "deterministic ntile(10) LTV bands with exact decimal ranges",
    ),
    "novel_docs": Query(
        llmops.novel_docs,
        llmops.NOVEL_DOCS_SQL,
        ("documents",),
        "X1c exact incremental novelty: new batch anti-joined on history fingerprints",
    ),
    "novel_docs_bloom": Query(
        llmops.novel_docs_bloom,
        llmops.NOVEL_DOCS_BLOOM_SQL,
        ("documents",),
        "X1c Bloom-broadcast novelty probe (FPs reproduced by the oracle)",
    ),
    "source_overlap": Query(
        llmops.source_overlap,
        llmops.SOURCE_OVERLAP_SQL,
        ("documents",),
        "X2f pairwise source Jaccard estimate via union-MinHash components",
    ),
    "source_cap": Query(
        llmops.source_cap,
        llmops.SOURCE_CAP_SQL,
        ("documents",),
        "X4f per-source doc budget by content-stable hash order",
    ),
    "dup_ratio_by_source": Query(
        llmops.dup_ratio_by_source,
        llmops.DUP_RATIO_SQL,
        ("documents",),
        "X4g per-source exact-duplicate rate scoreboard",
    ),
    "embedding_covariance": Query(
        llmops.embedding_covariance,
        llmops.EMBEDDING_COVARIANCE_SQL,
        ("embeddings",),
        "X3i exact d×d covariance accumulation (PCA prep, micro-int sums)",
    ),
    "snapshot_diff": Query(
        llmops.snapshot_diff,
        llmops.SNAPSHOT_DIFF_SQL,
        ("documents",),
        "X4h CDC-style corpus version diff (full-outer fingerprint compare)",
    ),
    "bpe_merge_pairs": Query(
        llmops.bpe_merge_pairs,
        llmops.BPE_MERGE_PAIRS_SQL,
        ("documents",),
        "X4i BPE tokenizer-training pair counts (vocab-sized fan-out)",
    ),
    "bpe_train_merges": Query(
        llmops.bpe_train_merges,
        llmops.BPE_TRAIN_MERGES_SQL,
        ("documents",),
        "X4i' full iterative BPE trainer: 8 unrolled merge rounds, "
        "corpus re-derived per round, vs an unrolled DuckDB twin",
    ),
    "bpe_encode_stats": Query(
        llmops.bpe_encode_stats,
        llmops.BPE_ENCODE_STATS_SQL,
        ("documents",),
        "X4i'' tokenizer inference: encode docs via the trained vocab "
        "dimension join, per-doc token economics",
    ),
    "corpus_stats": Query(
        llmops.corpus_stats,
        llmops.CORPUS_STATS_SQL,
        ("documents",),
        "X4j one-row dataset-card summary (single agg pass)",
    ),
    "community_labels": Query(
        analytics.community_labels,
        analytics.COMMUNITY_LABELS_SQL,
        ("lineitem",),
        "A13 synchronous LPA communities, unrolled rounds exact-checked",
    ),
    "unpivot_measures": Query(
        analytics.unpivot_measures,
        analytics.UNPIVOT_MEASURES_SQL,
        ("lineitem",),
        "A14 wide→long melt (zero-shuffle reshaping, pivot inverse)",
    ),
    "value_winsorized": Query(
        eventstream.value_winsorized,
        eventstream.VALUE_WINSORIZED_SQL,
        ("events",),
        "TS winsorized means at discrete rank-based P5/P95 bounds",
    ),
    "brand_frontier": Query(
        analytics.brand_frontier,
        analytics.BRAND_FRONTIER_SQL,
        ("part",),
        "A15 2-D skyline via sort + running max (no quadratic dominance join)",
    ),
    "curation_funnel": Query(
        llmops.curation_funnel,
        llmops.CURATION_FUNNEL_SQL,
        ("documents",),
        "X4k end-to-end curation pipeline as one plan, stage survivor counts",
    ),
    "kcore_nodes": Query(
        analytics.kcore_nodes,
        analytics.KCORE_NODES_SQL,
        ("lineitem",),
        "A16 k-core peeling (fixed rounds, unrolled exact twin)",
    ),
    "rolling_active_users": Query(
        eventstream.rolling_active_users,
        eventstream.ROLLING_ACTIVE_USERS_SQL,
        ("events",),
        "TS trailing-7d distinct users via contribution explode (no global window)",
    ),
    "customer_rfm": Query(
        analytics.customer_rfm,
        analytics.CUSTOMER_RFM_SQL,
        ("orders",),
        "A17 RFM segmentation matrix (deterministic ntile bands)",
    ),
    "nation_supplier_hhi": Query(
        analytics.nation_supplier_hhi,
        analytics.NATION_SUPPLIER_HHI_SQL,
        ("lineitem", "supplier", "nation"),
        "A18 Herfindahl revenue concentration per nation",
    ),
    "doc_cosine_pairs": Query(
        llmops.doc_cosine_pairs,
        llmops.DOC_COSINE_PAIRS_SQL,
        ("documents",),
        "X2/X3 lexical TF-cosine near-dup pairs via inverted index",
    ),
    "doc_cosine_pairs_capped": Query(
        llmops.doc_cosine_pairs_capped,
        llmops.DOC_COSINE_PAIRS_CAPPED_SQL,
        ("documents",),
        "X2/X3 scale-safe TF-cosine: prefix-blocked candidates, exact scoring",
    ),
    "curation_funnel_neardup": Query(
        llmops.curation_funnel_neardup,
        llmops.CURATION_FUNNEL_NEARDUP_SQL,
        ("documents",),
        "X4k' curation funnel with prefix-blocked near-dup removal stage",
    ),
    "oov_rate": Query(
        llmops.oov_rate,
        llmops.OOV_RATE_SQL,
        ("documents",),
        "X4 per-doc out-of-vocab rate vs top-V corpus vocabulary",
    ),
    "node_jaccard": Query(
        analytics.node_jaccard,
        analytics.NODE_JACCARD_SQL,
        ("lineitem",),
        "A19 neighborhood Jaccard link-prediction similarity",
    ),
    "adamic_adar": Query(
        analytics.adamic_adar,
        analytics.ADAMIC_ADAR_SQL,
        ("lineitem",),
        "A19b Adamic-Adar degree-discounted link prediction",
    ),
    "node_features": Query(
        analytics.node_features,
        analytics.NODE_FEATURES_SQL,
        ("lineitem",),
        "A11b per-node graph-ML feature assembly (degree/triangles/clustering)",
    ),
    "variant_props_profile": Query(
        eventstream.variant_props_profile,
        eventstream.VARIANT_PROPS_SQL,
        ("events",),
        "E VARIANT-typed ingest + typed extraction profile",
    ),
    "epoch_batches": Query(
        llmops.epoch_batches,
        llmops.EPOCH_BATCHES_SQL,
        ("documents",),
        "X4 deterministic epoch shuffle + training batch assembly "
        "(distributed global rank)",
    ),
    "weighted_doc_sample": Query(
        llmops.weighted_doc_sample,
        llmops.WEIGHTED_SAMPLE_SQL,
        ("documents",),
        "X4 quality-weighted reproducible subsampling (integer-exact)",
    ),
    "es_weighted_sample": Query(
        llmops.es_weighted_sample,
        llmops.ES_WEIGHTED_SAMPLE_SQL,
        ("documents",),
        "X4 exact-size Efraimidis-Spirakis weighted sample per source",
    ),
    "dsir_quota_sample": Query(
        llmops.dsir_quota_sample,
        llmops.DSIR_QUOTA_SAMPLE_SQL,
        ("documents",),
        "X4 score->weight->sample data-selection pipeline in one plan",
    ),
    "kmv_distinct_users": Query(
        approx.kmv_distinct_users,
        approx.KMV_DISTINCT_SQL,
        ("events",),
        "X5 KMV distinct sketch with an EXACT cross-engine oracle",
    ),
    "kmv_sketch_merge": Query(
        approx.kmv_sketch_merge,
        approx.KMV_SKETCH_MERGE_SQL,
        ("events",),
        "X5 KMV merge==recompute certified by the direct-spelling oracle",
    ),
    "hdr_daily_quantiles": Query(
        approx.hdr_daily_quantiles,
        approx.HDR_DAILY_QUANTILES_SQL,
        ("events",),
        "X5 HDR sketch keyed by day (continuous-rollup percentiles)",
    ),
    "hdr_value_quantiles": Query(
        approx.hdr_value_quantiles,
        approx.HDR_VALUE_QUANTILES_SQL,
        ("events",),
        "X5e HDR log-histogram quantile sketch + exact disc twin in one "
        "output (error bound driver-pinned)",
    ),
    "hdr_sketch_merge": Query(
        approx.hdr_sketch_merge,
        approx.HDR_SKETCH_MERGE_SQL,
        ("events",),
        "X5e sketch built as history+delta merge; oracle recomputes "
        "direct — parity row certifies merge == recompute",
    ),
    "cms_token_counts": Query(
        approx.cms_token_counts,
        approx.CMS_TOKEN_SQL,
        ("documents",),
        "X5 Count-Min frequency sketch, exact-oracled build+probe",
    ),
    "concurrent_users_peak": Query(
        eventstream.concurrent_users_peak,
        eventstream.CONCURRENT_PEAK_SQL,
        ("events",),
        "TS sweep-line per-day peak concurrency (no quadratic overlap join)",
    ),
    "impute_lang_eval": Query(
        llmops.impute_lang_eval,
        llmops.IMPUTE_LANG_SQL,
        ("documents",),
        "X4 group-mode imputation with deterministic held-out accuracy",
    ),
    "quality_classifier": Query(
        llmops.quality_classifier,
        llmops.QUALITY_CLASSIFIER_SQL,
        ("documents",),
        "X4 classifier-based quality filter (pinned linear model, "
        "bit-exact score)",
    ),
    "prefix_jaccard": Query(
        llmops.prefix_jaccard,
        llmops.PREFIX_JACCARD_SQL,
        ("documents",),
        "X2 PPJoin prefix-filtered similarity join; oracle = the naive "
        "full inverted index (completeness under test)",
    ),
    "embedding_outliers": Query(
        llmops.embedding_outliers,
        llmops.EMBEDDING_OUTLIERS_SQL,
        ("embeddings",),
        "X3 per-label centroid-distance outliers (bit-exact array fold)",
    ),
    "value_equidepth_hist": Query(
        eventstream.value_equidepth_hist,
        eventstream.VALUE_EQUIDEPTH_SQL,
        ("events",),
        "X5 equi-depth histogram (optimizer-statistics structure, "
        "total-order ntile)",
    ),
    "ngram_diversity": Query(
        llmops.ngram_diversity,
        llmops.NGRAM_DIVERSITY_SQL,
        ("documents",),
        "X4 distinct-n-gram diversity per source (self-BLEU-style "
        "corpus health)",
    ),
    "source_dup_matrix": Query(
        llmops.source_dup_matrix,
        llmops.SOURCE_DUP_MATRIX_SQL,
        ("documents",),
        "X4 exact cross-source shared-fingerprint matrix",
    ),
    "corpus_drift": Query(
        llmops.corpus_drift,
        llmops.CORPUS_DRIFT_SQL,
        ("documents",),
        "X4 length-distribution drift, integer-exact total variation",
    ),
    "regional_sales": Query(
        classic.regional_sales,
        classic.REGIONAL_SALES_SQL,
        ("lineitem", "orders", "customer", "supplier", "nation", "region"),
        "Q5 same-nation customer/supplier revenue by nation",
    ),
    "bilateral_trade": Query(
        classic.bilateral_trade,
        classic.BILATERAL_TRADE_SQL,
        ("lineitem", "orders", "customer", "supplier", "nation"),
        "Q7 two-nation bilateral shipping volume by year",
    ),
    "skyline_parts": Query(
        analytics.skyline_parts,
        analytics.SKYLINE_PARTS_SQL,
        ("part",),
        "A20 2-D Pareto frontier via per-price window (no all-pairs)",
    ),
    "skew_profile": Query(
        analytics.skew_profile,
        analytics.SKEW_PROFILE_SQL,
        ("lineitem", "orders", "events", "documents"),
        "A19 hot-key skew diagnostics per join-key family (salt-or-not signal)",
    ),
    "part_recommendations": Query(
        analytics.part_recommendations,
        analytics.PART_RECOMMENDATIONS_SQL,
        ("lineitem",),
        "A23 item-to-item top-3 co-order recommendations (bounded window)",
    ),
    "supplier_scorecard": Query(
        analytics.supplier_scorecard,
        analytics.SUPPLIER_SCORECARD_SQL,
        ("lineitem", "supplier"),
        "A24 one-pass per-supplier ops scorecard (wide conditional aggs)",
    ),
    "containment_pairs": Query(
        llmops.containment_pairs,
        llmops.CONTAINMENT_PAIRS_SQL,
        ("documents",),
        "X2 asymmetric shingle containment (short-in-long dedup)",
    ),
    "ngram_jaccard_capped": Query(
        llmops.ngram_jaccard_capped,
        llmops.NGRAM_JACCARD_CAPPED_SQL,
        ("documents",),
        "X2a' scale-safe capped Jaccard (rarest-R prefix blocking + "
        "exact rescoring; capped ⊆ exact)",
    ),
    "containment_pairs_capped": Query(
        llmops.containment_pairs_capped,
        llmops.CONTAINMENT_PAIRS_CAPPED_SQL,
        ("documents",),
        "X2' scale-safe capped containment (rarest-R prefix blocking "
        "+ exact rescoring; capped ⊆ exact)",
    ),
    "neardup_eval_capped": Query(
        llmops.neardup_eval_capped,
        llmops.NEARDUP_EVAL_CAPPED_SQL,
        ("documents",),
        "X2g' LSH precision/recall vs the scale-safe capped-Jaccard "
        "ground truth (prefix family vs minhash family — non-circular)",
    ),
    "affix_overlap": Query(
        llmops.affix_overlap,
        llmops.AFFIX_OVERLAP_SQL,
        ("documents",),
        "X2 tail→head stitching pairs (split-document seams)",
    ),
    "unigram_surprisal": Query(
        llmops.unigram_surprisal,
        llmops.UNIGRAM_SURPRISAL_SQL,
        ("documents",),
        "X4 perplexity-proxy quality score, integer micro-nat exact",
    ),
    "zipf_slope": Query(
        llmops.zipf_slope,
        llmops.ZIPF_SLOPE_SQL,
        ("documents",),
        "X4 per-source Zipf slope (corpus-shape governance)",
    ),
    "dsir_importance_weights": Query(
        llmops.dsir_importance_weights,
        llmops.DSIR_IMPORTANCE_SQL,
        ("documents",),
        "X4 DSIR hashed-token importance weights (data selection)",
    ),
    "k_anonymity_audit": Query(
        llmops.k_anonymity_audit,
        llmops.K_ANONYMITY_SQL,
        ("documents",),
        "X4 k-anonymity quasi-identifier audit (privacy governance)",
    ),
    "mixture_temperature_weights": Query(
        llmops.mixture_temperature_weights,
        llmops.MIXTURE_TEMPERATURE_SQL,
        ("documents",),
        "X4 α=0.5 temperature mixture weights (integer-frozen sqrt)",
    ),
    "embedding_dim_stats": Query(
        llmops.embedding_dim_stats,
        llmops.EMBEDDING_DIM_STATS_SQL,
        ("embeddings",),
        "X3 per-dimension embedding QA card (exact decimal moments)",
    ),
    "jl_projection": Query(
        llmops.jl_projection,
        llmops.JL_PROJECTION_SQL,
        ("embeddings",),
        "X3 Johnson-Lindenstrauss ±1 sketch (64→8 dims, exact integer dot)",
    ),
    "neardup_eval": Query(
        llmops.neardup_eval,
        llmops.NEARDUP_EVAL_SQL,
        ("documents",),
        "X2g LSH candidate precision/recall vs exact Jaccard ground truth",
    ),
    "multimodal_resize": Query(
        llmops.multimodal_resize,
        llmops.MULTIMODAL_RESIZE_SQL,
        ("documents",),
        "§2.8 mapInPandas resize stage, whole Arrow path sha-oracled",
    ),
    "bigram_lm_top": Query(
        llmops.bigram_lm_top,
        llmops.BIGRAM_LM_TOP_SQL,
        ("documents",),
        "X4 conditional bigram top-3 transitions (integer-micro p(w2|w1))",
    ),
    "doc_bigram_surprisal": Query(
        llmops.doc_bigram_surprisal,
        llmops.DOC_BIGRAM_SURPRISAL_SQL,
        ("documents",),
        "X4 per-doc mean -ln p(w2|w1) quality score (micro-nat frozen)",
    ),
    "sliding_event_counts": Query(
        eventstream.sliding_event_counts,
        eventstream.SLIDING_EVENT_COUNTS_SQL,
        ("events",),
        "§2.6 3d/1d sliding-window agg (batch twin of the stream op)",
    ),
    "bm25_topk": Query(
        llmops.bm25_topk,
        llmops.BM25_TOPK_SQL,
        ("documents",),
        "X3/X4 Okapi BM25 top-10, fully map-side scoring",
    ),
    "hybrid_rrf": Query(
        llmops.hybrid_rrf,
        llmops.HYBRID_RRF_SQL,
        ("documents", "embeddings"),
        "X3 lexical+vector reciprocal-rank fusion over shortlists",
    ),
    "ab_test_chi2": Query(
        eventstream.ab_test_chi2,
        eventstream.AB_TEST_CHI2_SQL,
        ("events",),
        "A/B 2×2 chi-square + conversion lift, one agg pass",
    ),
    "gdpr_erasure_audit": Query(
        eventstream.gdpr_erasure_audit,
        eventstream.GDPR_ERASURE_SQL,
        ("events",),
        "privacy right-to-erasure run audit (one-pass evidence)",
    ),
    "funnel_by_variant": Query(
        eventstream.funnel_by_variant,
        eventstream.FUNNEL_BY_VARIANT_SQL,
        ("events",),
        "A/B × strict-order funnel: per-arm stage counts + rates",
    ),
    "mmr_rerank": Query(
        llmops.mmr_rerank,
        llmops.MMR_RERANK_SQL,
        ("embeddings",),
        "X3 MMR diversified rerank of the cosine shortlist (λ=0.5)",
    ),
    "neardup_keep_best": Query(
        llmops.neardup_keep_best,
        llmops.NEARDUP_KEEP_BEST_SQL,
        ("documents",),
        "X2 keep-longest-per-cluster canonical selection",
    ),
    "novel_neardup": Query(
        llmops.novel_neardup,
        llmops.NOVEL_NEARDUP_SQL,
        ("documents",),
        "X1c incremental near-dup novelty: batch vs history LSH bands",
    ),
    "badword_filter": Query(
        llmops.badword_filter,
        llmops.BADWORD_FILTER_SQL,
        ("documents",),
        "X4 blocklist hygiene pass: map-side token membership + audit",
    ),
    # --- round-3 additions ---
    "simhash_hamming_pairs": Query(
        llmops.simhash_hamming_pairs,
        llmops.SIMHASH_HAMMING_SQL,
        ("documents",),
        "X2c banded 60-bit SimHash near-dup pairs at hamming ≤ 3 "
        "(pigeonhole-lossless band join; oracle = naive all-pairs)",
    ),
    "pii_scrub": Query(
        llmops.pii_scrub,
        llmops.PII_SCRUB_SQL,
        ("documents",),
        "X4 PII redaction audit (email/SSN/IP/phone regex chain, "
        "injected fixtures, md5-checked scrubbed text)",
    ),
    "corpus_embedding_reconcile": Query(
        llmops.corpus_embedding_reconcile,
        llmops.CORPUS_EMBEDDING_RECONCILE_SQL,
        ("documents", "embeddings"),
        "X3/X4 parallel-asset reconcile audit (full-outer status join; "
        "cogroup seam twin pinned in pytest)",
    ),
    "boilerplate_strip": Query(
        llmops.boilerplate_strip,
        llmops.BOILERPLATE_STRIP_SQL,
        ("documents",),
        "X2 line-level boilerplate removal (per-source line-df strip + "
        "ordered reassembly, md5-checked cleaned text)",
    ),
    "hard_negatives": Query(
        llmops.hard_negatives_query,
        llmops.HARD_NEGATIVES_SQL,
        ("embeddings",),
        "X3 contrastive hard-negative mining (broadcast anchor set, "
        "label-excluded cosine top-3 per anchor)",
    ),
    "encoding_quality": Query(
        llmops.encoding_quality,
        llmops.ENCODING_QUALITY_SQL,
        ("documents",),
        "X4 encoding-health audit (U+FFFD / control bytes / mojibake "
        "digraphs / ASCII ratio, injected damage fixtures)",
    ),
    "retrieval_metrics": Query(
        llmops.retrieval_metrics,
        llmops.RETRIEVAL_METRICS_SQL,
        ("embeddings",),
        "X3 retrieval eval: recall@10 + MRR per pinned anchor with "
        "same-label qrels (rounded-before-rank determinism)",
    ),
    "script_profile": Query(
        llmops.script_profile,
        llmops.SCRIPT_PROFILE_SQL,
        ("documents",),
        "X4 Unicode script profile (Latin/Cyrillic/Han/Greek counts + "
        "dominant script; injected multilingual fixtures)",
    ),
    "classifier_calibration": Query(
        llmops.classifier_calibration,
        llmops.CLASSIFIER_CALIBRATION_SQL,
        ("documents",),
        "X4 quality-classifier calibration table (decile mean score vs "
        "rule-proxy positive rate; integer micro-unit exactness)",
    ),
    "part_golden_records": Query(
        analytics.part_golden_records,
        analytics.PART_GOLDEN_RECORDS_SQL,
        ("part",),
        "ER end-to-end: blocked fuzzy pairs -> iterative CC -> golden "
        "records with survivorship (recursive-CTE oracle)",
    ),
    "scd2_dim_apply": Query(
        relational.scd2_dim_apply,
        relational.SCD2_DIM_APPLY_SQL,
        ("customer",),
        "G1 gold-layer SCD-2 dim maintenance: close-old/open-new + "
        "idempotent no-change + new-key + history pass-through",
    ),
    "unigram_lm_train": Query(
        llmops.unigram_lm_train,
        llmops.UNIGRAM_LM_TRAIN_SQL,
        ("documents",),
        "X4n unigram-LM (SentencePiece-style) tokenizer trainer: "
        "2 hard-EM rounds, Viterbi E-step over enumerated splits, "
        "Laplace M-step with zero-count pruning (unrolled DuckDB twin)",
    ),
    "unigram_lm_encode": Query(
        llmops.unigram_lm_encode,
        llmops.UNIGRAM_LM_ENCODE_SQL,
        ("documents",),
        "X4n' unigram-LM inference: trained segmentation as a vocab "
        "dimension join, per-doc piece economics + char fallback",
    ),
    "variant_shred_tags": Query(
        eventstream.variant_shred_tags,
        eventstream.VARIANT_SHRED_TAGS_SQL,
        ("events",),
        "VARIANT shredding: typed nested-array variant_get + explode "
        "feeding an agg, vs a plain-JSON DuckDB twin",
    ),
    "scd2_as_of": Query(
        relational.scd2_as_of,
        relational.SCD2_AS_OF_SQL,
        ("customer",),
        "G1b SCD-2 time-travel read: dim reconstructed as-of two past "
        "instants from the maintained history",
    ),
    "hits_scores": Query(
        analytics.hits_scores,
        analytics.HITS_SCORES_SQL,
        ("orders", "lineitem"),
        "A10c HITS hubs/authorities over the bipartite purchase graph, "
        "2 unrolled rounds in exact integer micro-units",
    ),
    "attribution_join_outer": Query(
        eventstream.attribution_join_outer,
        eventstream.ATTRIBUTION_OUTER_SQL,
        ("events",),
        "S13+ LEFT OUTER attribution: funnel denominators from the "
        "same join as the matches (stream twin: watermark-driven null "
        "emission)",
    ),
    "cdc_apply": Query(
        relational.cdc_apply,
        relational.CDC_APPLY_SQL,
        ("orders",),
        "G2 CDC changelog apply: latest-wins upsert + tombstones "
        "(format-free MERGE twin)",
    ),
    "event_paths": Query(
        eventstream.event_paths,
        eventstream.EVENT_PATHS_SQL,
        ("events",),
        "TS top-k user journeys (ordered first-N event-type paths)",
    ),
    "cusum_shift_flags": Query(
        eventstream.cusum_shift_flags,
        eventstream.CUSUM_SQL,
        ("events",),
        "TS one-sided CUSUM change-point flags (array fold vs "
        "WITH RECURSIVE oracle)",
    ),
    "kmv_set_similarity": Query(
        approx.kmv_set_similarity,
        approx.KMV_SET_SIMILARITY_SQL,
        ("events",),
        "X5f theta-sketch-style cross-sketch Jaccard with exact pin",
    ),
    "conversion_latency": Query(
        eventstream.conversion_latency,
        eventstream.CONVERSION_LATENCY_SQL,
        ("events",),
        "TS funnel latency: nearest-click range join -> exact disc "
        "p25/p50/p90",
    ),
    # --- rows-only checks (engine-specific sketches); they stay last ---
    "approx_distinct_users": Query(
        approx.approx_distinct_users,
        None,
        ("events",),
        "X5 HLL++ approx distinct (scale path; exact twin is oracled)",
    ),
    "approx_value_quantiles": Query(
        approx.approx_value_quantiles,
        None,
        ("events",),
        "X5 percentile_approx sketch (scale path)",
    ),
    "minhash_ml": Query(
        llmops.minhash_ml,
        None,
        ("documents",),
        "X2 library path: pyspark.ml MinHashLSH approxSimilarityJoin",
    ),
}


def _sized_shuffle_partitions(sf_dir: str, tables: tuple[str, ...]) -> int:
    """Pre-AQE reducer count from the query's input bytes: ceil(bytes /
    16 MB) of compressed parquet per reduce partition, the local stand-in
    for the 128 MB advisory size at cluster scale. ``run_query`` floors
    it at defaultParallelism (an sf0.1 sweep on local[32]: ngram_jaccard
    3.1 s at 8 reducers vs 2.3 s at 16/32) and caps it at 8x cores (AQE
    coalesces below the cap). The files are walked on every call, so a
    path whose contents change is sized from its current bytes."""
    total = 0
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return -(-total // (16 << 20))


def run_query(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    q = REGISTRY[name]
    # DuckDB treats parquet TIMESTAMP as wall-clock; pin the Spark session
    # to UTC so year()/date_format() agree regardless of driver config.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cores = spark.sparkContext.defaultParallelism
    sized = _sized_shuffle_partitions(sf_dir, q.tables)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(max(cores, min(8 * cores, sized)))
    )
    return q.builder(load_tables(spark, sf_dir, list(q.tables)))


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def bind(name: str) -> Callable[[SparkSession, str], DataFrame]:
        return lambda spark, sf_dir: run_query(name, spark, sf_dir)

    return {name: bind(name) for name in REGISTRY}


def oracles() -> dict[str, str]:
    return {n: q.oracle for n, q in REGISTRY.items() if q.oracle is not None}
