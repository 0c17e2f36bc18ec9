"""Declared-query registry — import all modules to populate REGISTRY."""

from tidb_gateway_spark.queries.registry import REGISTRY, QuerySpec  # noqa: F401

# Import order is registration order; keep SURVEY §2B numbering grouped.
from tidb_gateway_spark.queries import (  # noqa: F401, E402
    scans_filters,
    joins,
    aggregates,
    windows,
    sorts_sets,
    scalar_functions,
    streaming_batch,
    llm_pipeline,
    subqueries,
    # extended ops (Q72+)
    llm_extended,
    analytics_extended,
    corpus_shaping,
    multimodal_pipeline,
    sources_queries,
    governance,
    statistics_extended,
    layout_quality,
    curation_extended,
    pipeline_audit,
    retrieval_curation,
    affinity_integrity,
    profiling_mixture,
    quality_eval,
    streaming_retrieval,
    distribution_quality,
    drift_monitoring,
    ann_compression,
)
