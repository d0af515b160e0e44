"""RGP (regions of genomic plasticity) detection — the reference's
flagship analytical query (03_analyses/RGPs.ipynb cell 8, :449-530),
re-expressed as a single declarative DataFrame plan.

Cypher shape -> Spark shape:
- anchor filter (P3), per-node aggregate nb_out (A3), dominance filter
  (P4): tiny cluster-level frames, computed first (the reference's
  hand-ordered selectivity, preserved here by construction).
- `match path = (f1)-[:NEIGHBOUR*5..200]->(f2)` (J13): the NEIGHBOUR
  graph is a linear chain per strain, so the variable-length path is an
  *interval query* on genome ordinals — `5 <= pos2 - pos1 <= 200` —
  not a BFS.  One range join replaces the exponential path expansion.
- path projections (W7/F12): min/max/collect over the pos interval.

Cypher counts *relationships* in `length(path)` and the projection
drops both anchor endpoints (`nodes(path)[1..-1]`, `length(path)-2`):
with P = pos2 - pos1 relationships, InsertionNbFeatures = P - 1 and
interior nodes are pos1+1 .. pos2-1 inclusive.  The undirected
`(c1)-[r:NEIGHBOUR]-(c2)` match is replicated by unioning both edge
orientations; `nb_out` stays directed (pattern comprehension
`(c1)-[n:NEIGHBOUR]->()` is directed in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.graph.build import PangenomeGraph, genome_order

# RGPs.ipynb:452's core fraction and edge dominance (anchor_pairs).
CORE_FRAC = 0.95
DOMINANCE = 0.7
# RGPs.ipynb cell 8's path length window, [:NEIGHBOUR*5..200].
MIN_HOPS = 5
MAX_HOPS = 200


def _ordinals(features: DataFrame) -> DataFrame:
    return features.select(
        "feature_id",
        "strain",
        "feature_start",
        "feature_end",
        "name",
        "feature_type",
        "GC",
        "CAI",
        F.row_number().over(genome_order()).alias("pos"),
    )


def anchor_pairs(graph: PangenomeGraph, n_strains: int | None = None) -> DataFrame:
    """Anchor cluster pairs: both core (number_genomes > 0.95*N),
    edge dominance 0.7*nb_out < r.number_of_members, c1 <> c2
    (RGPs.ipynb:451-462)."""
    if n_strains is None:
        n_strains = graph.strains.count()
    cn = graph.cluster_neighbour
    # Undirected (c1)-[r]-(c2): union both orientations of each edge.
    edges = cn.select(
        F.col("src_cluster_id").alias("c1"),
        F.col("dst_cluster_id").alias("c2"),
        "number_of_members",
    ).unionByName(
        cn.select(
            F.col("dst_cluster_id").alias("c1"),
            F.col("src_cluster_id").alias("c2"),
            "number_of_members",
        )
    )
    core = graph.clusters.filter(
        F.col("number_genomes") > CORE_FRAC * n_strains
    ).select("cluster_id")
    # nb_out: directed outgoing sum per c1 (A3).
    nb_out = cn.groupBy(F.col("src_cluster_id").alias("c1")).agg(
        F.sum("number_of_members").alias("nb_out")
    )
    return (
        edges.join(F.broadcast(core.withColumnRenamed("cluster_id", "c1")), "c1")
        .join(F.broadcast(core.withColumnRenamed("cluster_id", "c2")), "c2")
        .join(nb_out, "c1")
        .filter(
            (DOMINANCE * F.col("nb_out") < F.col("number_of_members"))
            & (F.col("c1") != F.col("c2"))
        )
        .select("c1", "c2")
        .distinct()
    )


def find_rgps(graph: PangenomeGraph, n_strains: int | None = None) -> DataFrame:
    """Full RGP query: returns the reference's 15-column result
    (RGPs.ipynb:473-488) ordered lists sorted by genome position."""
    # Not cached: cached frames lose AQE partition coalescing (A/B in
    # OPTIMIZATION_r16.md).
    pos = _ordinals(graph.features)
    anchors = anchor_pairs(graph, n_strains)

    # Features realizing each anchor cluster, with their strain+ordinal.
    memb = graph.ortholog.join(
        pos.select("feature_id", "strain", "pos"), "feature_id"
    )
    f1 = memb.select(
        F.col("cluster_id").alias("c1"),
        F.col("strain"),
        F.col("pos").alias("pos1"),
    )
    f2 = memb.select(
        F.col("cluster_id").alias("c2"),
        F.col("strain"),
        F.col("pos").alias("pos2"),
    )
    # Anchor pair table is cluster-level (small) -> broadcast into the
    # feature-level joins; candidates then interval-join per strain.
    cand = (
        f1.join(F.broadcast(anchors), "c1")
        .join(f2, ["c2", "strain"])
        .filter((F.col("pos2") - F.col("pos1")).between(MIN_HOPS, MAX_HOPS))
    )

    # Expand each candidate interval over the strain's ordinal chain.
    # Joining on strain alone materializes |candidates-per-strain| x
    # |features-per-strain| rows before the range filter (VERDICT r1
    # scale watch-item; OSS Spark has no range-join optimization).
    # Block-bucket instead: with block width > max interval span, an
    # interval overlaps at most 2 blocks, so the equi-join on
    # (strain, block) prunes the expansion to ~2 blocks of features
    # per candidate regardless of genome length.
    block = MAX_HOPS + 1
    cand_b = cand.withColumn(
        "pos_block",
        F.explode(
            F.sequence(
                F.floor(F.col("pos1") / block), F.floor(F.col("pos2") / block)
            )
        ),
    )
    pos_b = pos.withColumn("pos_block", F.floor(F.col("pos") / block))
    nodes = (
        cand_b.join(pos_b, ["strain", "pos_block"])
        .filter(F.col("pos").between(F.col("pos1"), F.col("pos2")))
        .drop("pos_block")
    )

    mobile = F.col("name").contains("integrase") | F.col("name").contains("transposase")
    interior = F.col("pos").between(F.col("pos1") + 1, F.col("pos2") - 1)

    node_cluster = graph.ortholog.withColumnRenamed("cluster_id", "node_cluster_id")
    nodes = nodes.join(node_cluster, "feature_id")

    agg = (
        nodes.groupBy("strain", "c1", "c2", "pos1", "pos2")
        .agg(
            F.max(F.when(mobile, 1).otherwise(0)).alias("has_mobile"),
            F.min(F.when(interior, F.col("feature_start"))).alias("InsertionStart"),
            F.max(F.when(interior, F.col("feature_end"))).alias("InsertionEnd"),
            F.transform(
                F.array_sort(F.collect_list(F.when(interior, F.struct("pos", F.col("GC").alias("v"))))),
                lambda s: s.v,
            ).alias("InsertionListGC"),
            F.transform(
                F.array_sort(F.collect_list(F.when(interior, F.struct("pos", F.col("CAI").alias("v"))))),
                lambda s: s.v,
            ).alias("InsertionListCAI"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", F.col("node_cluster_id").alias("v")))),
                lambda s: s.v,
            ).alias("InsertionListClusterID"),
            F.transform(
                F.array_sort(F.collect_list(F.when(mobile, F.struct("pos", F.col("name").alias("v"))))),
                lambda s: s.v,
            ).alias("InsertionListMobileNames"),
            F.sum(F.when(F.col("feature_type") == "tRNA", 1).otherwise(0)).alias(
                "InsertionNbTRNAs"
            ),
        )
        .filter(F.col("has_mobile") == 1)
        .withColumn("InsertionNbFeatures", F.col("pos2") - F.col("pos1") - 1)
    )

    stats = graph.strains.select(
        F.col("name").alias("strain"),
        F.col("avg_GC").alias("StrainAvgGC"),
        F.col("stDev_GC").alias("StrainStDevGC"),
        F.col("avg_CAI").alias("StrainAvgCAI"),
        F.col("stDev_CAI").alias("StrainStDevCAI"),
    )
    return (
        agg.join(F.broadcast(stats), "strain")
        .select(
            F.col("strain").alias("StrainName"),
            "StrainAvgGC",
            "StrainStDevGC",
            "StrainAvgCAI",
            "StrainStDevCAI",
            F.col("c1").alias("Anchor1ID"),
            F.col("c2").alias("Anchor2ID"),
            "InsertionStart",
            "InsertionEnd",
            "InsertionNbFeatures",
            "InsertionListGC",
            "InsertionListCAI",
            "InsertionListClusterID",
            "InsertionListMobileNames",
            "InsertionNbTRNAs",
        )
    )
