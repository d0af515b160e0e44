"""Graph enrichment flows — the Spark re-expression of
extendingDB_FeatureAndStrainMetrics.py and extendingDB_performingBlast.py.

Reference shape: pull features over Bolt, reconstruct each CDS's full
sequence from (variation, cluster reference_sequence) via
variationToFullSequence (F7), compute GC (F8) and CAI (F9), write a
CSV, LOAD CSV ... MERGE back per-row (254 s), then per-strain
aggregates (A1).  Here: one join + pandas_udf decode + column-math GC
+ CAI udf + left-join writeback — no OLTP round-trip.

BLAST (S11/S14): `operators.seed_align` aligns in-engine (the
registered `blast_builtin_*` queries) and
`builtin_hits_as_blast_table` gives one (cluster_id, title, score,
evalue) row per cluster and subject; `enrich_clusters_with_blast` is
the A14 grouped-collect writeback join over that table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.functions.sequence import (
    cai,
    delta_decode,
    gc_content,
)
from pangenomesasgraphdatabases_spark.graph.build import PangenomeGraph


def reconstruct_full_sequences(graph: PangenomeGraph, feature_type: str = "CDS") -> DataFrame:
    """F7 decode path: every <feature_type> feature's full sequence =
    decode(variation, cluster.reference_sequence), gaps stripped
    (extendingDB_FeatureAndStrainMetrics.py:21-29 + the Cypher pull at
    :36-40)."""
    feats = graph.features.filter(F.col("feature_type") == feature_type).select(
        "feature_id", "strain", "variation"
    )
    refs = graph.clusters.select("cluster_id", "reference_sequence")
    j = (
        feats.join(graph.ortholog, "feature_id")
        .join(refs, "cluster_id")
    )
    return j.select(
        "feature_id",
        "strain",
        delta_decode("variation", "reference_sequence").alias("full_seq"),
    )


def composition_metrics(sequences: DataFrame) -> DataFrame:
    """F8 + F9: GC% (pure column math, no UDF) and CAI (pandas_udf) per
    feature — the featuresCompositionDataframe table
    (extendingDB_FeatureAndStrainMetrics.py:41-76)."""
    return sequences.select(
        F.col("feature_id").alias("featureID"),
        gc_content("full_seq").alias("GC"),
        cai("full_seq").alias("CAI"),
    )


def enrich_features_with_composition(graph: PangenomeGraph, comp: DataFrame) -> PangenomeGraph:
    """The 02_addNucleotideCompositionMetrics.cypher MERGE (254 s of
    row-at-a-time writes) as a left join + per-strain re-aggregation."""
    import dataclasses

    feats = (
        graph.features.drop("GC", "CAI")
        .join(
            comp.select(
                F.col("featureID").alias("feature_id"),
                F.col("GC").alias("GC"),
                F.col("CAI").alias("CAI"),
            ),
            "feature_id",
            "left",
        )
    )
    strains = feats.groupBy(F.col("strain").alias("name")).agg(
        F.avg("GC").alias("avg_GC"),
        F.stddev_samp("GC").alias("stDev_GC"),
        F.avg("CAI").alias("avg_CAI"),
        F.stddev_samp("CAI").alias("stDev_CAI"),
    )
    return dataclasses.replace(graph, features=feats, strains=strains)


# --- BLAST enrichment (S11 / S14 / A14) ------------------------------------


def enrich_clusters_with_blast(clusters: DataFrame, hits: DataFrame) -> DataFrame:
    """A14/S14: grouped collect of hit titles/scores per cluster,
    left-joined onto CLUSTER with hasBlastVirusHit flag — replacing the
    per-cluster MATCH..SET write loop (extendingDB_performingBlast.py:
    107-142).  Lists sorted by (title, score) for determinism."""
    agg = hits.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("title", "score"))
            ),
            lambda s: s.title,
        ).alias("blastTitlesVirus"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("title", "score"))
            ),
            lambda s: s.score,
        ).alias("blastScoresVirus"),
    )
    return clusters.join(agg, "cluster_id", "left").withColumn(
        "hasBlastVirusHit", F.col("blastTitlesVirus").isNotNull()
    )
