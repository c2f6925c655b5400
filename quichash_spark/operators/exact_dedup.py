"""Exact duplicate detection: group-by-content-hash.

Spark re-expression of quichash's dedup aggregation
(``find_duplicate_groups``, /root/reference/src/dedup.rs:599-629): build
``HashMap<hash, Vec<(path,size)>>`` -> keep groups with >1 member -> wasted
space = (count-1)*size.  Here the hash map is a shuffle-partitioned
``groupBy`` with map-side partial aggregation (Catalyst's partial+final
pattern — ref A7), so it scales to 10^12 rows without a driver-side map.

These groups are the NON-NEGOTIABLE recall floor (BASELINE.md): every
byte-identical clip pair must end up in one cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_duplicate_groups(signatures: DataFrame) -> DataFrame:
    """Groups of clips sharing a content hash (count > 1), members
    ascending (ref src/dedup.rs:610). ``wasted`` counts duplicate samples.
    The groups are unordered: a global sort would cost the pipeline stage
    two jobs, so the one query that presents them applies the
    reference's order (wasted bytes descending, ref src/dedup.rs:625-627)."""
    return (
        signatures.filter(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n"),
            F.sort_array(F.collect_list("clip_id")).alias("clip_ids"),
            ((F.count("*") - F.lit(1)) * F.first("n_samples") * 2).alias("wasted_bytes"),
        )
        .filter(F.col("n") > 1)
    )


def exact_duplicate_edges(groups: DataFrame) -> DataFrame:
    """Star edges (group-min member -> other members) for the cluster stage,
    derived from :func:`exact_duplicate_groups` output.

    Emitting n-1 star edges per group instead of n*(n-1)/2 pairwise edges
    keeps edge volume linear in corpus size — the connected-components
    stage makes the clusters identical either way.  ``clip_ids`` is sorted,
    so element 1 is the group min.
    """
    return groups.select(
        F.element_at("clip_ids", 1).alias("clip_a"),
        F.explode("clip_ids").alias("clip_b"),
    ).filter(F.col("clip_a") != F.col("clip_b"))
