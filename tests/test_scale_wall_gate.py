"""Diagnostic-tag gate for the queries known to be quadratic by construction.

The sf1 oracle sweep found that a handful of registry queries grow with the
square of their input (all-pairs neighbour joins, unblocked cosine, an
unbounded range search). They stay in the registry as diagnostics, each with
a bounded production twin; untagging one would re-admit it to the large-SF
gates and the bench headline.
"""

from __future__ import annotations


def test_diagnostic_tags_cover_known_quadratics() -> None:
    """The queries identified as quadratic-by-construction must stay
    tagged, and each must keep an untagged production twin."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import (
        registry,
    )

    registry.load_all()
    twins = {
        "graph_adamic_adar": "graph_adamic_adar_capped",
        "graph_jaccard_neighbors": "graph_jaccard_neighbors_capped",
        "graph_common_neighbors": "graph_common_neighbors_capped",
        "dedup_embedding_cosine": "dedup_embedding_cosine_cells",
        "ann_range_search_radius": "ann_range_search_cells",
    }
    for name, twin in twins.items():
        assert name in registry.DIAGNOSTIC, f"{name} lost its diagnostic tag"
        assert twin in registry.QUERIES, f"production twin {twin} missing"
        assert twin not in registry.DIAGNOSTIC, f"twin {twin} must not be tagged"
